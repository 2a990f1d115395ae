package graft.plans

import java.util.concurrent.ConcurrentHashMap

import graft.sources.Fingerprint

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

/** Pinot 1.2 `VECTOR_SIMILARITY(vecCol, ARRAY[...], topK)` — the
  * vector-index predicate of the deployed endpoint (version pin
  * `/root/reference/resources/bastion/bastionUserData.sh:7`). In Pinot it
  * selects the topK rows most similar to the literal query vector through
  * the table's HNSW index; here the same spelling routes through the
  * persisted [[graft.sources.AnnIndex]] (IVF — functional parity with a
  * partition-pruned scale path) when the session registered one for the
  * scanned table+column, and falls back to exact brute-force top-k otherwise —
  * mirroring how [[SegmentPruningRule]] transparently accelerates filters
  * without changing answers' shape.
  *
  * The marker expression is Unevaluable: it only has meaning as a WHERE
  * conjunct (as in Pinot), where [[VectorSimilarityRule]] rewrites it:
  *
  *  - INDEXED: probe the AnnIndex with the literal vector at PLANNING time
  *    (the IN_SUBQUERY broker-two-phase precedent — the probe reads only
  *    the probed cell partitions and collects exactly k ids, memoized per
  *    (index fingerprint, vector, k) so EXPLAIN and re-analysis launch
  *    zero jobs) and rewrite to `idCol IN (<k literals>)` — a tiny IN-list
  *    any downstream index can prune on.
  *  - FALLBACK: rewrite to Sort(cosine desc) + Limit(k) over the child —
  *    planned as TakeOrderedAndProject (per-partition top-k, merge of k×P
  *    rows), the honest distributed brute-force retrieval.
  *
  * Other WHERE conjuncts stay as a post-filter in both paths (top-k first,
  * then the residual predicate — a query may return fewer than k rows),
  * so the two paths agree in shape and the index is an accelerator.
  */
case class VectorSimilarityPredicate(vec: Expression, query: Expression, topK: Expression)
  extends Expression with Unevaluable {
  override def children: Seq[Expression] = Seq(vec, query, topK)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "vector_similarity"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorSimilarityPredicate =
    copy(vec = newChildren(0), query = newChildren(1), topK = newChildren(2))
}

object VectorSimilarity {

  // (layout signature, graph signature, vector, k, probes, ef) → probed
  // ids; planning-time jobs run once per distinct probe, EXPLAIN and
  // re-analysis are free
  private val probeMemo =
    new ConcurrentHashMap[(String, String, Seq[Float], Int, Int, Int), Array[Long]]()

  /** Route this session's VECTOR_SIMILARITY over `dataDir`'s `vecCol`
    * through the AnnIndex at `indexDir`; other sessions keep the exact
    * brute-force answer ([[Routes]]). */
  def register(spark: SparkSession, dataDir: String, vecCol: String,
      idCol: String, indexDir: String, probes: Int = 2, ef: Int = 0): Route.Ann = {
    val path = Fingerprint.canon(dataDir)
    Routes.add(spark, Route.Ann(path, Fingerprint.of(path), vecCol, idCol, indexDir, probes, ef))
  }

  private[plans] def probedIds(spark: SparkSession, e: Route.Ann,
      qv: Array[Float], k: Int): Array[Long] = {
    // memo keys on the RECURSIVE layout signature, not the index-dir file
    // list: an append writes only inside cell subdirectories, which a
    // flat fingerprint cannot see — the memo would keep serving
    // pre-append top-k for the rest of the session (found in round-8
    // review; AnnIndexSpec covers the append-then-reprobe case). When the
    // probe routes through HNSW (ef > 0) the key also carries the GRAPH
    // identity: a buildHnsw re-run with different m/efConstruction leaves
    // the assignments layout unchanged while rewriting every graph file —
    // without this the memo would serve old-graph top-k for the session.
    val gsig =
      if (e.ef > 0) graft.sources.AnnIndex.graphSignature(spark, e.indexDir) else ""
    val key = (graft.sources.AnnIndex.layoutSignature(spark, e.indexDir),
      gsig, qv.toSeq, k, e.probes, e.ef)
    probeMemo.computeIfAbsent(key, _ => {
      import spark.implicits._
      // synthetic qid −1 never collides with a stored id, so topK's
      // self-match exclusion never fires — the nearest row is returned
      // even when it equals the query vector (Pinot's behavior)
      val qdf = Seq((-1L, qv.toSeq)).toDF("qid", "qe")
      val hits =
        if (e.ef > 0)
          graft.sources.AnnIndex.topKHnsw(spark, e.indexDir, qdf, "qid", "qe",
            k, e.probes, e.ef)
        else
          graft.sources.AnnIndex.topK(spark, e.indexDir, qdf, "qid", "qe", k, e.probes)
      hits.orderBy("rn").select("nid").collect().map(_.getLong(0))
    })
  }
}

/** Installed in every Pinot-vocabulary session (`PinotFunctions.register`);
  * reads the ANN routes of the session being optimized. */
object VectorSimilarityRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val hasVs = plan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[VectorSimilarityPredicate])))
    if (!hasVs) return plan
    val spark = SparkSession.active
    val routes = Routes.of(spark)
    plan.transformUp {
      case Filter(cond, child)
          if splitConjunctivePredicates(cond).exists(_.isInstanceOf[VectorSimilarityPredicate]) =>
        rewrite(spark, routes, cond, child)
    }
  }

  /** The literal query vector, whether constant folding already collapsed
    * the ARRAY(...) call or not. */
  private def queryFloats(e: Expression): Array[Float] = e match {
    case Literal(ad: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(et, _)) =>
      et match {
        case DoubleType => ad.toDoubleArray().map(_.toFloat)
        case FloatType => ad.toFloatArray()
        case other => ad.toObjectArray(other).map(v => v.toString.toFloat)
      }
    case CreateArray(cs, _) if cs.forall(_.foldable) =>
      cs.map(c => c.eval() match {
        case null => throw new IllegalArgumentException(
          "VECTOR_SIMILARITY query vector must not contain nulls")
        case v => v.toString.toFloat
      }).toArray
    case Cast(c, _, _, _) => queryFloats(c)
    case other => throw new IllegalArgumentException(
      s"VECTOR_SIMILARITY query vector must be a literal array, got $other")
  }

  private def literalK(e: Expression): Int = e match {
    case Literal(i: Int, _) => i
    case Literal(l: Long, _) => l.toInt
    case other => throw new IllegalArgumentException(
      s"VECTOR_SIMILARITY topK must be an integer literal, got $other")
  }

  private def relationPath(p: LogicalPlan): Option[String] = p match {
    case l: LogicalRelation => Routes.scanPath(l).map(_._2)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      relationPath(c)
    case Filter(_, c) => relationPath(c)
    case _ => None
  }

  private def rewrite(spark: SparkSession, routes: Option[Routes], cond: Expression,
      child: LogicalPlan): LogicalPlan = {
    val cs = splitConjunctivePredicates(cond)
    val (vsList, rest) = cs.partition(_.isInstanceOf[VectorSimilarityPredicate])
    require(vsList.length == 1,
      "exactly one VECTOR_SIMILARITY predicate per WHERE clause")
    val vs = vsList.head.asInstanceOf[VectorSimilarityPredicate]
    val vecAttr = vs.vec match {
      case a: AttributeReference => a
      case other => throw new IllegalArgumentException(
        s"VECTOR_SIMILARITY first argument must be the vector column, got $other")
    }
    val qv = queryFloats(vs.query)
    val k = literalK(vs.topK)
    val route = for {
      rs <- routes
      path <- relationPath(child)
      ann <- rs.live[Route.Ann](path).find(_.vecCol == vecAttr.name)
    } yield ann
    route match {
      case Some(e) =>
        val ids = VectorSimilarity.probedIds(spark, e, qv, k)
        val idAttr = child.output.find(_.name == e.idCol).getOrElse(
          throw new IllegalArgumentException(
            s"VECTOR_SIMILARITY: registered id column ${e.idCol} not in scan output " +
              s"(${child.output.map(_.name).mkString(", ")})"))
        val inList = In(Cast(idAttr, LongType),
          ids.toIndexedSeq.map(v => Literal(v, LongType)))
        Filter(rest.foldLeft[Expression](inList)(And(_, _)), child)
      case None =>
        // exact brute force: float-cast the literal once, rank all rows —
        // Sort+Limit plans as TakeOrderedAndProject (per-partition top-k)
        val sim = graft.expressions.CosineSimilarity(vecAttr,
          Cast(vs.query, ArrayType(FloatType, containsNull = true)))
        val sorted = Sort(Seq(SortOrder(sim, Descending)), global = true, child)
        val limited = Limit(Literal(k), sorted)
        val post = rest.reduceOption(And).map(Filter(_, limited)).getOrElse(limited)
        Project(child.output, post)
    }
  }
}
