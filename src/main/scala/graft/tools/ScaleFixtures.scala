package graft.tools

import graft.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-trend fixture generator (committed form of the round-4 ad-hoc
  * script BASELINE.md describes): replicate the sf fixtures `factor`× with
  * content transforms that preserve each table's internal structure while
  * keeping replicas disjoint — corpus GROWTH, not corpus duplication:
  *
  *  - documents: per-replica lowercase alphabet ROTATION of the text
  *    (within-replica near-dup/gram structure preserved exactly; grams are
  *    disjoint across replicas so dup clusters grow in COUNT), doc_id
  *    offset by replica;
  *  - lineitem: order/part/suppkey offsets per replica (range-join pair
  *    volume scales exactly linearly);
  *  - embeddings: cyclic dimension ROLL per replica (within-replica cosine
  *    structure identical; SRP buckets differ across replicas), vec_id
  *    offset.
  *
  * The 1× output is ALSO rewritten through this writer so both scales share
  * row-group layout (a single-row-group source under-parallelizes the 1×
  * scan and would overstate the ratio).
  *
  * Usage: runMain graft.tools.ScaleFixtures <srcSfDir> <outDir> <factor>
  */
object ScaleFixtures {

  private def rotateExpr(c: String, shift: Int): org.apache.spark.sql.Column =
    if (shift % 26 == 0) col(c)
    else translate(col(c),
      "abcdefghijklmnopqrstuvwxyz",
      { val s = shift % 26; ("abcdefghijklmnopqrstuvwxyz" * 2).substring(s, s + 26) })

  def replicate(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val nDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val nOrd = li.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val nVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1

    val docReps = (0 until factor).map { r =>
      docs.select(
        (col("doc_id") + lit(r * nDoc)).as("doc_id"),
        rotateExpr("text", r).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    docReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val liReps = (0 until factor).map { r =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(r * nOrd))
    }
    liReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val embReps = (0 until factor).map { r =>
      val s = r % dim
      emb.select(
        (col("vec_id") + lit(r * nVec)).as("vec_id"),
        (if (s == 0) col("embedding")
         else concat(slice(col("embedding"), s + 1, dim - s), slice(col("embedding"), 1, s)))
          .as("embedding"),
        col("label"))
    }
    embReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // tables the trend queries read but don't need scaled: raw byte copy at
    // 1× (NOT a parquet round-trip — events.ts is TIMESTAMP(NANOS), which
    // only graft.sources.Tables can read; a byte copy preserves it as-is)
    Seq("events", "orders", "customer", "part", "supplier", "nation", "region").foreach { t =>
      val src = java.nio.file.Paths.get(s"$srcDir/$t.parquet")
      if (java.nio.file.Files.isRegularFile(src))
        java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$outDir/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val spark = Graft.session()
    replicate(spark, srcDir, outDir, factorS.toInt)
    spark.stop()
  }
}
