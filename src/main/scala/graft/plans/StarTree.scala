package graft.plans

import graft.sources.Fingerprint

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

/** Star-tree index analog — Pinot's signature pre-aggregation structure
  * (enabled per-table in Pinot via `starTreeIndexConfigs`; the reference
  * ships Pinot 1.2.0 which builds star-trees per segment over configured
  * dimension splits + function/column pairs,
  * `/root/reference/resources/bastion/userdata-pinotcontroller.sh:29-35`).
  *
  * Spark-first re-expression: the "index" is a materialized rollup — one
  * parquet table pre-aggregated by the configured dimension columns carrying
  * decomposable aggregate state (count / per-metric count, sum, min, max) —
  * plus a Catalyst optimizer rule that transparently rewrites a matching
  * `Aggregate` over the raw fact scan into the same aggregate over the
  * rollup scan. A query grouping on any SUBSET of the dimensions (with
  * filters that reference dimensions only) re-aggregates rollup rows instead
  * of fact rows — at 100 TB that is the difference between scanning the
  * fact table and scanning a rollup that is smaller by the ratio of rows to
  * distinct dimension combinations, exactly the scan Pinot's star-tree
  * serves. Aggregates rewrite by algebraic decomposability:
  *
  *   COUNT(*)      → coalesce(SUM(cnt), 0)
  *   COUNT(m)      → coalesce(SUM(cnt_m), 0)
  *   SUM(m)        → SUM(sum_m)
  *   MIN/MAX(m)    → MIN(min_m) / MAX(max_m)
  *   AVG(m)        → SUM(sum_m) / SUM(cnt_m)   (double, like Spark's Average)
  *   COUNT/MIN/MAX(dim) → group-homogeneous forms over (dim, cnt)
  *
  * Anything else (DISTINCT, FILTER clauses, non-decomposable functions,
  * expressions over metrics, filters touching non-dimension columns) leaves
  * the plan untouched — fall back to the fact scan, never approximate.
  *
  * Safety: the rule fires only for rollups registered in THIS session
  * ([[Routes]]), so sessions that register different rollups of one fact
  * each keep routing to their own. Like PinotFunctions, callers use a
  * dedicated child session so declared queries outside the star-tree
  * surface can never be silently re-planned (a rollup re-associates double
  * sums, which could flip a rounding boundary in an unrelated query's
  * hashed output).
  */
object StarTree {

  // rollup column naming (prefixed so they can never collide with fact cols)
  private[graft] def cntCol: String = "__st_cnt"
  private[graft] def cntOf(m: String): String = s"__st_cnt_$m"
  private[graft] def sumOf(m: String): String = s"__st_sum_$m"
  private[graft] def minOf(m: String): String = s"__st_min_$m"
  private[graft] def maxOf(m: String): String = s"__st_max_$m"
  private[graft] def hllOf(c: String): String = s"__st_hll_$c"
  private[graft] def thetaOf(c: String): String = s"__st_theta_$c"

  /** Supported metric types: integral sums widen to LONG and fractional sums
    * to DOUBLE on both levels, so the rewritten aggregate's dataType is
    * bit-identical to the original's. DECIMAL is excluded — Sum grows
    * precision per level, so a two-level sum would change the result type. */
  private def metricTypeOk(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
    case _ => false
  }

  /** Build (or reuse) the materialized rollup for `factParquetPath` and
    * enable transparent routing to it in this session. Returns the route.
    *
    * The rollup is a [[Fingerprint.buildOnce]] artifact keyed on the fact
    * path, the configuration and the fact data version, so a regenerated
    * fixture never serves a stale rollup. The build is one scan of the fact
    * table, amortized over every routed query — the same cost model as
    * Pinot's segment-build-time star-tree generation. */
  def register(
      spark: SparkSession,
      factParquetPath: String,
      dims: Seq[String],
      metrics: Seq[String],
      sketchCols: Seq[String] = Nil,
      sketchLgK: Int = 12): Route.Rollup = {
    import org.apache.spark.sql.functions._
    // read before the build: a fact rewritten meanwhile never matches it
    val factVersion = Fingerprint.of(factParquetPath)
    val fact = graft.sources.Tables.read(spark, factParquetPath)
    val fieldType = fact.schema.fields.map(f => f.name -> f.dataType).toMap
    require(dims.nonEmpty && dims.forall(fieldType.contains), s"dims must be fact columns: $dims")
    require(metrics.forall(m => fieldType.get(m).exists(metricTypeOk)),
      s"metrics must be non-decimal numeric fact columns: $metrics")
    require(sketchCols.forall(fieldType.contains),
      s"sketch columns must be fact columns: $sketchCols")

    val out = Fingerprint.buildOnce(
        "startree", factParquetPath, dims, metrics, sketchCols, sketchLgK) { staging =>
      val sumType = (m: String) => fieldType(m) match {
        case FloatType | DoubleType => DoubleType
        case _ => LongType
      }
      val aggs = count(lit(1)).as(cntCol) +: (metrics.flatMap { m =>
        Seq(
          count(col(m)).as(cntOf(m)),
          sum(col(m).cast(sumType(m))).as(sumOf(m)),
          min(col(m)).as(minOf(m)),
          max(col(m)).as(maxOf(m)))
      } ++ sketchCols.flatMap { c =>
        // Pinot functionColumnPairs: one mergeable sketch per cell per col
        Seq(
          hll_sketch_agg(col(c), lit(sketchLgK)).as(hllOf(c)),
          graft.expressions.ThetaSketch.thetaSketchAgg(col(c), sketchLgK).as(thetaOf(c)))
      })
      fact.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
        .write.mode("overwrite").parquet(staging)
    }

    val relation = graft.sources.Tables.read(spark, out).queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l }
      .getOrElse(sys.error(s"rollup scan did not analyze to a LogicalRelation: $out"))
    Routes.add(spark, Route.Rollup(Fingerprint.canon(factParquetPath), factVersion,
      dims, metrics, sketchCols, sketchLgK, out, relation))
  }
}

/** The routing rewrite the session's [[Routes]] rule runs: rewrite
  * `Aggregate [dims⊆D] [decomposable aggs] over (Project/Filter over fact
  * scan)` to the same aggregate over the rollup scan. It runs in
  * `experimental.extraOptimizations` (after the main optimizer batches, so
  * the child shapes are the post-pruning Project/Filter/scan forms).
  * Output attribute ids and data types are preserved exactly — parents of
  * the Aggregate never see the difference. */
object StarTreeRoutingRule {

  def apply(plan: LogicalPlan, routes: Routes): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(_, _, _, _) => rewrite(agg, routes).getOrElse(agg)
  }

  /** Peel the optimizer's Project(attrs-only)/Filter shapes off a fact scan. */
  private def decompose(plan: LogicalPlan): Option[(Option[Expression], LogicalRelation)] = {
    def attrsOnly(p: Seq[NamedExpression]) = p.forall(_.isInstanceOf[AttributeReference])
    plan match {
      case l: LogicalRelation => Some((None, l))
      case Filter(c, l: LogicalRelation) => Some((Some(c), l))
      case Project(p, l: LogicalRelation) if attrsOnly(p) => Some((None, l))
      case Project(p, Filter(c, l: LogicalRelation)) if attrsOnly(p) => Some((Some(c), l))
      case Filter(c, Project(p, l: LogicalRelation)) if attrsOnly(p) => Some((Some(c), l))
      case _ => None
    }
  }

  /** The aggregate over the first of this session's rollups of the scanned
    * fact's current data version that serves it. */
  private def rewrite(agg: Aggregate, routes: Routes): Option[LogicalPlan] = {
    val rewrites = for {
      (cond, scan) <- decompose(agg.child).iterator
      (_, path) <- Routes.scanPath(scan).iterator
      // a rollup of an older version of the fact is never served
      spec <- routes.live[Route.Rollup](path).iterator
      dims = spec.dims.toSet
      metrics = spec.metrics.toSet
      // grouping: attribute-only, all dimensions
      if agg.groupingExpressions.forall {
        case a: AttributeReference => dims.contains(a.name)
        case _ => false
      }
      // filters: deterministic, dimension-only (⇒ group-homogeneous, so
      // filtering rollup rows ≡ filtering fact rows)
      if cond.forall(c => c.deterministic && c.references.forall(r => dims.contains(r.name)))
      // fresh rollup attribute ids per rewrite (self-join safety)
      fresh = spec.relation.newInstance()
      byName = fresh.output.map(a => a.name -> a).toMap
      newAggExprs <- traverseOption(agg.aggregateExpressions)(
        rewriteNamed(_, dims, metrics, spec, byName))
    } yield {
      val newGrouping = agg.groupingExpressions.map {
        case a: AttributeReference => byName(a.name)
        case e => e // unreachable (validated above)
      }
      val newChild = cond match {
        case Some(c) =>
          Filter(c.transform { case a: AttributeReference => byName(a.name) }, fresh)
        case None => fresh
      }
      Aggregate(newGrouping, newAggExprs, newChild)
    }
    rewrites.nextOption()
  }

  private def traverseOption[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  /** Rewrite one output expression, preserving its name, exprId, and
    * dataType (type preservation is re-checked at the end — a mismatch
    * vetoes the whole rewrite rather than corrupting the plan). */
  private def rewriteNamed(
      ne: NamedExpression,
      dims: Set[String],
      metrics: Set[String],
      spec: Route.Rollup,
      byName: Map[String, AttributeReference]): Option[NamedExpression] = {
    val rewritten = ne match {
      case a: AttributeReference if dims.contains(a.name) =>
        Some(Alias(byName(a.name), a.name)(exprId = a.exprId, qualifier = a.qualifier))
      case al: Alias =>
        rewriteExpr(al.child, dims, metrics, spec, byName).map(c =>
          Alias(c, al.name)(exprId = al.exprId, qualifier = al.qualifier,
            explicitMetadata = al.explicitMetadata))
      case _ => None
    }
    rewritten.filter(r => r.dataType == ne.dataType)
  }

  private def rewriteExpr(
      e: Expression,
      dims: Set[String],
      metrics: Set[String],
      spec: Route.Rollup,
      byName: Map[String, AttributeReference]): Option[Expression] = {
    def attr(n: String) = byName(n)
    def sumAgg(n: String): Expression = Sum(attr(n)).toAggregateExpression()
    def nonNullCount(inner: Expression): Expression =
      Coalesce(Seq(inner, Literal(0L)))
    e match {
      case ag @ AggregateExpression(func, _, false, None, _) =>
        val newFunc: Option[Expression] = func match {
          case s @ Sum(a: AttributeReference, _) if metrics.contains(a.name) =>
            Some(ag.copy(aggregateFunction = s.copy(child = attr(StarTree.sumOf(a.name)))))
          case Min(a: AttributeReference) if metrics.contains(a.name) =>
            Some(ag.copy(aggregateFunction = Min(attr(StarTree.minOf(a.name)))))
          case Max(a: AttributeReference) if metrics.contains(a.name) =>
            Some(ag.copy(aggregateFunction = Max(attr(StarTree.maxOf(a.name)))))
          case Min(a: AttributeReference) if dims.contains(a.name) =>
            Some(ag.copy(aggregateFunction = Min(attr(a.name))))
          case Max(a: AttributeReference) if dims.contains(a.name) =>
            Some(ag.copy(aggregateFunction = Max(attr(a.name))))
          case Count(Seq(Literal(_, _))) =>
            Some(nonNullCount(ag.copy(aggregateFunction = Sum(attr(StarTree.cntCol)))))
          case Count(Seq(a: AttributeReference)) if metrics.contains(a.name) =>
            Some(nonNullCount(ag.copy(aggregateFunction = Sum(attr(StarTree.cntOf(a.name))))))
          case Count(Seq(a: AttributeReference)) if dims.contains(a.name) =>
            // dim is constant within a rollup row: its non-null count is
            // cnt where the dim is non-null, 0 where it is null
            Some(nonNullCount(ag.copy(aggregateFunction =
              Sum(If(IsNull(attr(a.name)), Literal(0L), attr(StarTree.cntCol))))))
          case Average(a: AttributeReference, _) if metrics.contains(a.name) =>
            // Spark's Average(numeric) is DOUBLE; sum/count re-aggregated
            // from partials is the same decomposition Average itself uses
            Some(Divide(
              Cast(sumAgg(StarTree.sumOf(a.name)), DoubleType),
              Cast(sumAgg(StarTree.cntOf(a.name)), DoubleType)))
          // Pinot functionColumnPairs: sketch-agg over the fact becomes a
          // union-merge of the stored per-cell sketch state. lgK must match
          // the build config — a union buffer at a different k would
          // silently resample, so mismatches veto the rewrite
          case h: HllSketchAgg => h.left match {
            case a: AttributeReference
              if spec.sketchCols.contains(a.name) && h.lgConfigK == spec.sketchLgK =>
              Some(ag.copy(aggregateFunction =
                HllUnionAgg(attr(StarTree.hllOf(a.name)), Literal(false))))
            case _ => None
          }
          case t: graft.expressions.ThetaSketchAgg => t.child match {
            case a: AttributeReference
              if spec.sketchCols.contains(a.name) && t.lgK == spec.sketchLgK =>
              Some(ag.copy(aggregateFunction =
                graft.expressions.ThetaUnionAgg(attr(StarTree.thetaOf(a.name)), t.lgK)))
            case _ => None
          }
          case _ => None
        }
        newFunc
      case _: AggregateExpression => None // DISTINCT or FILTER clause: bail
      case a: AttributeReference =>
        if (dims.contains(a.name)) Some(attr(a.name)) else None
      case other if other.deterministic =>
        traverseOption(other.children)(rewriteExpr(_, dims, metrics, spec, byName))
          .map(other.withNewChildren)
      case _ => None
    }
  }
}
