package graft.plans

import java.util.concurrent.ConcurrentHashMap

import graft.sources.{Fingerprint, SortedLayout}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

/** Transparent segment pruning — the Pinot BROKER behavior for sorted
  * columns: the broker consults per-segment [min,max] metadata and routes a
  * query only to the segments whose range can match; the query itself is
  * unchanged (`/root/reference/README.md:22` "optimizes segment pruning").
  * `sources/SortedLayout` provides the layout + explicit `prunedRead` API;
  * this rule makes the same decision AUTOMATICALLY for any query shape.
  *
  * [[SegmentPruning.register]] reads the footer manifest once (bytes per
  * file, like Pinot's segment metadata) and installs
  * [[SegmentPruningRule]] on the session. The rule then rewrites
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
  * Session-gated like StarTree: only fact paths registered in THIS
  * session's conf (`spark.graft.segprune.facts`) are rewritten, and the
  * manifest is fingerprinted against the file listing (count+bytes+mtimes)
  * at registration, so a rewritten/regenerated layout deregisters itself
  * rather than serving stale prune decisions.
  *
  * Scale posture: the decision is O(|files|) over driver-resident (min,max)
  * pairs — a few hundred KB at 100 TB — and turns point/range lookups from
  * full-table scans into constant-file scans with NO query rewrite by the
  * user, exactly what makes sorted columns Pinot's cheapest index.
  */
object SegmentPruning {

  /** One registered prunable layout: footer ranges (sorted layout), bloom
    * bitsets (hash layout), or exact partition-id sets (partitioned layout)
    * for `col` — any list may be empty. */
  final case class Entry(
      path: String,
      sortCol: String,
      ranges: Seq[SortedLayout.FileRange],
      blooms: Seq[graft.sources.BloomLayout.FileBloom],
      fingerprint: String,
      parts: Seq[graft.sources.PartitionedLayout.FileParts] = Nil,
      nParts: Int = 0)

  // path → registered entries (round 7: a dir can carry SEVERAL index
  // manifests — e.g. footer ranges on the sort column AND a bloom on a
  // second column, the normal Pinot table shape of sortedColumn +
  // bloomFilterColumns — keyed by (kind, column) within the path; prune()
  // INTERSECTS every applicable decision)
  private val registry = new ConcurrentHashMap[String, List[Entry]]()

  private def kindOf(e: Entry): String =
    if (e.ranges.nonEmpty) "sorted" else if (e.blooms.nonEmpty) "bloom"
    else if (e.parts.nonEmpty) "part" else "none"

  private[graft] val ConfFacts = "spark.graft.segprune.facts"

  private def fingerprintOf(dir: String): String = Fingerprint.of(Fingerprint.canon(dir))

  /** The registered entry for (`dir`, `kind`, `col`, `nParts`) if its data
    * version still matches the dir's, else the one `build` makes: a repeated
    * registration of an unchanged layout opens no footer. */
  private def manifest(dir: String, kind: String, col: String, nParts: Int = 0)(
      build: String => Entry): Entry = {
    val fp = fingerprintOf(dir)
    Option(registry.get(Fingerprint.canon(dir))).getOrElse(Nil)
      .find(e => kindOf(e) == kind && e.sortCol == col && e.nParts == nParts && e.fingerprint == fp)
      .getOrElse(build(fp))
  }

  /** Read the footer manifest for a SortedLayout-written `dir` and enable
    * transparent range+equality pruning on `sortCol` for this session. */
  def register(spark: SparkSession, dir: String, sortCol: String): Entry =
    install(spark, manifest(dir, "sorted", sortCol)(fp => Entry(Fingerprint.canon(dir), sortCol,
      SortedLayout.fileRanges(spark, dir, sortCol), Nil, fp)))

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
      maxManifestBytes: Long = DefaultMaxBloomManifestBytes): Entry = {
    val root = new Path(Fingerprint.canon(dir))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val nFiles = fs.listStatus(root)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val need = nFiles.toLong * (graft.sources.BloomLayout.DefaultNumBits / 8)
    require(need <= maxManifestBytes,
      s"bloom manifest for $dir needs $need B ($nFiles files x " +
        s"${graft.sources.BloomLayout.DefaultNumBits / 8} B) > budget $maxManifestBytes B: " +
        "register per partition subdirectory (sharded manifests) or raise the budget")
    install(spark, manifest(dir, "bloom", col)(fp => Entry(Fingerprint.canon(dir), col, Nil,
      graft.sources.BloomLayout.buildManifest(spark, dir, col), fp)))
  }

  /** Build the exact per-file partition-id manifest for a
    * PartitionedLayout-written `dir` and enable transparent =/IN pruning on
    * `col` for this session — Pinot's segmentPartitionConfig broker pruning
    * (exact: a value's partition id names its owning files with no false
    * positives; ranges keep the full scan, as on any hash layout). */
  def registerPartitioned(spark: SparkSession, dir: String, col: String,
      nPartitions: Int): Entry =
    install(spark, manifest(dir, "part", col, nPartitions)(fp =>
      Entry(Fingerprint.canon(dir), col, Nil, Nil, fp,
        graft.sources.PartitionedLayout.buildManifest(spark, dir, col, nPartitions),
        nPartitions)))

  private def install(spark: SparkSession, entry: Entry): Entry = {
    registry.compute(entry.path, (_, old) => {
      val prior = Option(old).getOrElse(Nil)
      // a re-registration replaces its own (kind, column) slot; entries
      // with a different fingerprint are stale for the SAME listing and
      // are dropped rather than intersected with fresh evidence
      entry :: prior.filter(e =>
        (kindOf(e), e.sortCol) != (kindOf(entry), entry.sortCol) &&
          e.fingerprint == entry.fingerprint)
    })
    val enabled = spark.conf.get(ConfFacts, "")
    if (!enabled.split(';').contains(entry.path))
      spark.conf.set(ConfFacts, if (enabled.isEmpty) entry.path else s"$enabled;${entry.path}")
    if (!spark.experimental.extraOptimizations.contains(SegmentPruningRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SegmentPruningRule
    entry
  }

  /** Valid only while the layout on disk is the one the manifest described. */
  private[plans] def entriesFor(path: String): List[Entry] = {
    val es = Option(registry.get(path)).getOrElse(Nil)
    if (es.isEmpty) Nil
    else {
      val fp = fingerprintOf(path)
      es.filter(_.fingerprint == fp)
    }
  }

  private[graft] def clear(): Unit = registry.clear()
}

object SegmentPruningRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled = conf.getConfString(SegmentPruning.ConfFacts, "")
    if (enabled.isEmpty) return plan
    val facts = enabled.split(';').toSet
    plan.transformUp {
      case f @ Filter(cond, l: LogicalRelation) =>
        prune(cond, l, facts).map(nl => Filter(cond, nl)).getOrElse(f)
      case f @ Filter(cond, Project(p, l: LogicalRelation))
          if p.forall(_.isInstanceOf[AttributeReference]) =>
        prune(cond, l, facts).map(nl => Filter(cond, Project(p, nl))).getOrElse(f)
      case f @ Project(p, Filter(cond, l: LogicalRelation))
          if p.forall(_.isInstanceOf[AttributeReference]) =>
        prune(cond, l, facts).map(nl => Project(p, Filter(cond, nl))).getOrElse(f)
    }
  }

  private def scanPath(l: LogicalRelation): Option[(HadoopFsRelation, String)] = l.relation match {
    case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 &&
        fs.partitionSchema.isEmpty =>
      Some((fs, Fingerprint.canon(fs.location.rootPaths.head.toString)))
    case _ => None
  }

  /** Conjuncts of the top-level AND. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Bounds [lo, hi] (None = unbounded) implied by one conjunct on `c`.
    * Strict bounds are safe to relax to inclusive — pruning keeps a
    * superset, the Filter decides exactly. */
  private def boundsOf(e: Expression, c: String): Option[(Option[Any], Option[Any])] = {
    def isCol(x: Expression) = x match {
      case a: AttributeReference => a.name == c
      case _ => false
    }
    e match {
      case EqualTo(a, Literal(v, _)) if isCol(a) => Some((Some(v), Some(v)))
      case EqualTo(Literal(v, _), a) if isCol(a) => Some((Some(v), Some(v)))
      case GreaterThan(a, Literal(v, _)) if isCol(a) => Some((Some(v), None))
      case GreaterThanOrEqual(a, Literal(v, _)) if isCol(a) => Some((Some(v), None))
      case LessThan(a, Literal(v, _)) if isCol(a) => Some((None, Some(v)))
      case LessThanOrEqual(a, Literal(v, _)) if isCol(a) => Some((None, Some(v)))
      case GreaterThan(Literal(v, _), a) if isCol(a) => Some((None, Some(v)))
      case GreaterThanOrEqual(Literal(v, _), a) if isCol(a) => Some((None, Some(v)))
      case LessThan(Literal(v, _), a) if isCol(a) => Some((Some(v), None))
      case LessThanOrEqual(Literal(v, _), a) if isCol(a) => Some((Some(v), None))
      case _ => None
    }
  }

  /** Align a literal with the manifest's stat type (parquet footers surface
    * int32 as Integer, int64 as Long, strings as String via SortedLayout's
    * unwrap); mismatched/unsupported pairs veto pruning, never break it. */
  private def align(v: Any, sample: Any): Option[Comparable[Any]] = {
    val out: Any = (v, sample) match {
      // NaN vetoes pruning: parquet footers exclude NaN from min/max while
      // Spark's EqualTo treats NaN = NaN as true, so no footer compare can
      // prove a file NaN-free — fall back to the full scan
      case (x: java.lang.Number, _) if x.doubleValue().isNaN => null
      case (x: java.lang.Number, _: java.lang.Long) => x.longValue()
      case (x: java.lang.Number, _: java.lang.Integer) => x.intValue()
      case (x: java.lang.Number, _: java.lang.Double) => x.doubleValue()
      // string stats live in the UTF8String (UTF-8 byte order) domain —
      // the order Spark range-partitioned the files by (SortedLayout)
      case (x: org.apache.spark.unsafe.types.UTF8String,
            _: org.apache.spark.unsafe.types.UTF8String) => x
      case (x: String, _: org.apache.spark.unsafe.types.UTF8String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
      case _ => null
    }
    Option(out).map(_.asInstanceOf[Comparable[Any]])
  }

  /** Footer-range decision: files whose [min,max] intersects the conjuncts'
    * tightest bounds on the sort column. */
  private def rangeKeep(entry: SegmentPruning.Entry,
      cs: Seq[Expression]): Option[Seq[String]] = {
    val bounds = cs.flatMap(boundsOf(_, entry.sortCol))
    if (bounds.isEmpty) return None
    val sample = entry.ranges.head.min: Any
    val lo = bounds.flatMap(_._1).flatMap(align(_, sample)) // tightest lower
      .reduceOption((a, b) => if (a.compareTo(b) >= 0) a else b)
    val hi = bounds.flatMap(_._2).flatMap(align(_, sample))
      .reduceOption((a, b) => if (a.compareTo(b) <= 0) a else b)
    if (lo.isEmpty && hi.isEmpty) None
    else Some(entry.ranges.filter(r =>
      lo.forall(v => r.max.compareTo(v) >= 0) && hi.forall(v => r.min.compareTo(v) <= 0))
      .map(_.path))
  }

  /** Bloom decision: files whose bitset admits an EqualTo literal on the
    * indexed column. The probe is hashed BY Spark (BloomLayout contract) so
    * it cannot diverge from the build-side hashing. */
  private def bloomKeep(entry: SegmentPruning.Entry, cs: Seq[Expression],
      session: org.apache.spark.sql.SparkSession): Option[Seq[String]] = {
    def isCol(x: Expression) = x match {
      case a: AttributeReference => a.name == entry.sortCol
      case _ => false
    }
    val eq = cs.collectFirst {
      case EqualTo(a: AttributeReference, Literal(v, _)) if isCol(a) => (v, a.dataType)
      case EqualTo(Literal(v, _), a: AttributeReference) if isCol(a) => (v, a.dataType)
    }
    eq.map { case (v, dt) =>
      val probe: Any = v match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => other
      }
      // cast to the COLUMN's type: Murmur3 hashes Int 42 and Long 42
      // differently, and a width-mismatched probe would reject every file
      val positions = graft.sources.BloomLayout.hashPositions(session, probe, castTo = Some(dt))
      graft.sources.BloomLayout.pruneFiles(entry.blooms, positions).map(_.path)
    }
  }

  /** Partition decision: files owning the partition id(s) of an EqualTo or
    * all-literal IN on the partitioned column — exact (Pinot
    * segmentPartitionConfig pruning). Probes are hashed BY Spark in the
    * column's own type, the PartitionedLayout contract. */
  private def partKeep(entry: SegmentPruning.Entry, cs: Seq[Expression],
      session: org.apache.spark.sql.SparkSession): Option[Seq[String]] = {
    def isCol(x: Expression) = x match {
      case a: AttributeReference => a.name == entry.sortCol
      case _ => false
    }
    def fromUtf8(v: Any): Any = v match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => other
    }
    val probe = cs.collectFirst {
      case EqualTo(a: AttributeReference, Literal(v, _)) if isCol(a) && v != null =>
        (Seq(fromUtf8(v)), a.dataType)
      case EqualTo(Literal(v, _), a: AttributeReference) if isCol(a) && v != null =>
        (Seq(fromUtf8(v)), a.dataType)
      case In(a: AttributeReference, list) if isCol(a) && list.nonEmpty &&
          list.forall { case Literal(v, _) => v != null; case _ => false } =>
        (list.collect { case Literal(v, _) => fromUtf8(v) }, a.dataType)
      // long IN-lists arrive as InSet after OptimizeIn — same decision
      case InSet(a: AttributeReference, hset) if isCol(a) && hset.nonEmpty &&
          !hset.contains(null) =>
        (hset.toSeq.map(fromUtf8), a.dataType)
    }
    probe.map { case (values, dt) =>
      val pids = graft.sources.PartitionedLayout.pidsOf(
        session, values, entry.nParts, castTo = Some(dt))
      graft.sources.PartitionedLayout.pruneFiles(entry.parts, pids).map(_.path)
    }
  }

  private def prune(cond: Expression, l: LogicalRelation,
      facts: Set[String]): Option[LogicalRelation] = {
    for {
      (fs, path) <- scanPath(l)
      if facts.contains(path)
      entries = SegmentPruning.entriesFor(path)
      if entries.nonEmpty
      session = l.relation.asInstanceOf[HadoopFsRelation].sparkSession
      cs = conjuncts(cond).filter(_.deterministic)
      total = entries.map(e =>
        math.max(e.ranges.size, math.max(e.blooms.size, e.parts.size))).max
      // every registered manifest that can decide contributes a keep set;
      // a file survives only if EVERY decision admits it (each decision is
      // individually sound — a superset of matches — so the intersection
      // is too)
      keeps = entries.flatMap { entry =>
        if (entry.ranges.nonEmpty) rangeKeep(entry, cs)
        else if (entry.blooms.nonEmpty) bloomKeep(entry, cs, session)
        else if (entry.parts.nonEmpty) partKeep(entry, cs, session)
        else None
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
      if keep.size < total // only rewrite when pruning wins
    } yield {
      val newLoc = new InMemoryFileIndex(
        session, keep.map(new Path(_)), Map.empty, Some(fs.dataSchema))
      l.copy(relation = fs.copy(location = newLoc)(session))
    }
  }
}
