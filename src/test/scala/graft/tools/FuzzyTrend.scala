package graft.tools

import graft.Graft
import org.apache.spark.sql.functions._

/** Dictionary-growth trend for ops/FuzzyJoin (round 9): the declared
  * query's cost is bounded by the DISTINCT name dictionary, which the sf
  * fixtures hold constant — so the honest scale axis is dictionary size.
  * Generates seeded random two-word dictionaries (adjective+noun over a
  * fixed syllable pool, the part-name shape) at growing sizes and times
  * selfJoin at d=2, printing size, seconds, and output pairs.
  * Usage: sbt "Test/runMain graft.tools.FuzzyTrend [sizes,csv]"  (default 10k,40k,160k)
  */
object FuzzyTrend {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(',').toSeq.map(_.trim.toInt))
      .getOrElse(Seq(10000, 40000, 160000))
    val spark = Graft.session()
    import spark.implicits._
    val syll = Vector("ka", "to", "mi", "ren", "lo", "ba", "zu", "pel", "dor", "si")
    sizes.foreach { n =>
      // deterministic names: two words of 2-3 syllables from the id bits —
      // dense near-neighborhoods (shared syllables) like real title data
      val names = spark.range(n).select(
        concat_ws(" ",
          concat(element_at(lit(syll.toArray), (pmod(col("id"), lit(10)) + 1).cast("int")),
            element_at(lit(syll.toArray), (pmod(col("id") / 10, lit(10)) + 1).cast("int"))),
          concat(element_at(lit(syll.toArray), (pmod(col("id") / 100, lit(10)) + 1).cast("int")),
            element_at(lit(syll.toArray), (pmod(col("id") / 1000, lit(10)) + 1).cast("int")),
            element_at(lit(syll.toArray), (pmod(col("id") / 10000, lit(10)) + 1).cast("int"))))
          .as("s"))
      var best = Double.MaxValue
      var pairs = 0L
      for (_ <- 1 to 2) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        pairs = graft.ops.FuzzyJoin.selfJoin(names, "s", d = 2).count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      System.err.println(f"[fuzzy] n=$n%d d=2 pairs=$pairs%d best=$best%.2f s")
    }
    spark.stop()
  }
}
