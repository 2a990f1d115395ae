package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/check_oracle.py).
  * Runs on the same Graft.session the bench times. A query that throws is
  * named on stderr, and the run exits non-zero once oracle_sql.json is
  * written. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.session()
    new java.io.File(outDir).mkdirs()
    // dev-only filter (comma-separated names), mirroring Bench's
    // SPARK_GRAFT_BENCH_ONLY; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_(k)) }.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.sorted.mkString(",")}")
      sys.exit(1)
    }
  }
}
