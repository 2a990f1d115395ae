package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Frames that several declared queries build with the same plan (the
  * n-gram near-dup pairs, the funnel stage frames, the part co-purchase
  * edges, the exact sketch anchors, ...). Spark's CacheManager matches a
  * cached frame by plan, so the first query in a session materializes it
  * and every later one reads that cache. A second `persist()` of the same
  * plan changes nothing but logs CacheManager's "Asked to cache already
  * cached data" WARN: 54 of them in one two-pass Bench run. */
object Shared {

  /** `df.persist()`, unless the session already caches the same plan
    * (`storageLevel` looks the plan up in the CacheManager). */
  def persist(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df else df.persist()
}
