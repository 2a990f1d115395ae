package graft.ops

import graft.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable similarity-search operators (SURVEY.md §2.11 X2) — the library
  * API behind the declared q_sim_* queries. */
object Similarity {

  /** Exact brute-force top-k cosine neighbors: the query set broadcasts
    * against the candidate table (embarrassingly parallel in candidates —
    * the right plan whenever |queries| is small, at any candidate scale). */
  def bruteForceTopK(
      candidates: DataFrame,
      queries: DataFrame,
      idCol: String,
      embCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(embCol).as("qe"))
    val sims = candidates
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("nid"),
        round(cosine_sim(col("qe"), col(embCol)), 4).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), col("sim"))
  }

  /** Approximate top-k via signed-random-projection buckets: candidates
    * shuffle once on bucket id; each query scans its own bucket plus the
    * `probes - 1` nearest neighbor buckets (multi-probe — the recall lever
    * that avoids re-indexing; see SimilarityQueries.srpProbeBuckets). A
    * candidate lives in exactly one bucket, so probing never duplicates a
    * (query, candidate) pair. */
  def annTopK(
      candidates: DataFrame,
      idCol: String,
      embCol: String,
      queryFilter: org.apache.spark.sql.Column,
      k: Int,
      nPlanes: Int = 8,
      probes: Int = 1): DataFrame = {
    val bucketed = candidates
      .withColumn("bucket", graft.queries.SimilarityQueries.srpBucket(col(embCol), nPlanes))
      .transform(Shared.persist)
    val q =
      if (probes <= 1)
        bucketed.filter(queryFilter)
          .select(col(idCol).as("qid"), col(embCol).as("qe"), col("bucket"))
      else
        bucketed.filter(queryFilter)
          .select(col(idCol).as("qid"), col(embCol).as("qe"),
            explode(graft.queries.SimilarityQueries.srpProbeBuckets(col(embCol), nPlanes, probes))
              .as("bucket"))
    val sims = bucketed.join(q, Seq("bucket"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("nid"),
        round(cosine_sim(col("qe"), col(embCol)), 4).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), col("sim"))
  }

  /** Two-stage int8 retrieval over the LSH candidate stream — the composed
    * scale shape SCALE.md promises (round-3 verdict item #5): stage 0
    * restricts candidates to the query's SRP bucket(s) (one shuffle on
    * bucket id, never a full scan), stage 1 ranks those candidates on
    * int8-DEQUANTIZED vectors (what a scanner reads from the 4×-compressed
    * index) and shortlists `shortlist` per query, stage 2 refines the
    * shortlist with exact float cosine and emits top-k. All approx scores
    * are sequential float64 folds (VectorPrep), so the shortlist and the
    * final answer are engine-reproducible — fully oracle-checkable.
    *
    * A candidate lives in exactly one bucket, so multi-probe never
    * duplicates a (query, candidate) pair. */
  def annTopKQuantized(
      candidates: DataFrame,
      idCol: String,
      embCol: String,
      queryFilter: org.apache.spark.sql.Column,
      k: Int,
      nPlanes: Int = 8,
      probes: Int = 1,
      shortlist: Int = 8): DataFrame = {
    val bucketed = candidates
      .withColumn("bucket", graft.queries.SimilarityQueries.srpBucket(col(embCol), nPlanes))
      .withColumn("__scale", VectorPrep.int8Scale(col(embCol)))
      .withColumn("__v", VectorPrep.dequantized(col(embCol), col("__scale")))
      .transform(Shared.persist)  // the quantized bucketed index feeds both join sides
    val q =
      if (probes <= 1)
        bucketed.filter(queryFilter)
          .select(col(idCol).as("qid"), col(embCol).as("qe"), col("__v").as("qv"), col("bucket"))
      else
        bucketed.filter(queryFilter)
          .select(col(idCol).as("qid"), col(embCol).as("qe"), col("__v").as("qv"),
            explode(graft.queries.SimilarityQueries.srpProbeBuckets(col(embCol), nPlanes, probes))
              .as("bucket"))
    val stage1 = bucketed.join(q, Seq("bucket"))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("asim", VectorPrep.cosineDouble(col("__v"), col("qv")))
    val w1 = Window.partitionBy(col("qid")).orderBy(col("asim").desc, col(idCol).asc)
    val short = stage1.withColumn("arn", row_number().over(w1)).filter(col("arn") <= shortlist)
    val refined = short.select(col("qid"), col(idCol).as("nid"),
      round(cosine_sim(col("qe"), col(embCol)), 4).as("sim"))
    val w2 = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    refined.withColumn("rn", row_number().over(w2)).filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), col("sim"))
  }
}
