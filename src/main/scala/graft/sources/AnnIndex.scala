package graft.sources

import graft.functions._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted INCREMENTAL IVF index for embedding similarity — the
  * production ANN maintenance shape at 100 TB: centroids are trained once
  * (distributed k-means via [[graft.ops.Pq.trainDistributed]] with m=1, or
  * a deterministic corpus sample), every vector is assigned to its nearest
  * cell at ingest, and the assignment frame is written PARTITIONED BY CELL
  * so a probe-k query reads only k cell directories — the IVF candidate cut
  * happens in the file listing (partition pruning), before a single byte of
  * vector data is scanned.
  *
  * Incremental: [[append]] assigns NEW vectors against the EXISTING
  * centroids and appends their cell partitions — no retraining, no touch of
  * standing data (how production IVF serves daily ingest; re-train is a
  * scheduled rebuild when [[stats]] reports drift). Cell skew is the
  * operational failure mode: `stats.imbalance` (max cell / mean cell)
  * surfaces it, the documented retrain trigger.
  *
  * Reference anchor: the reference's Pinot deployment answers vector-free
  * analytics; this is the SURVEY §2.11 X2 scale path (brute force at
  * fixture SF, partitioned candidates at 100 TB) made durable.
  */
object AnnIndex {

  final case class Stats(nTotal: Long, nCells: Int, maxCell: Long, imbalance: Double)

  private def centroidsPath(dir: String) = s"$dir/centroids"
  private def assignPath(dir: String) = s"$dir/assignments"
  private def pointerPath(dir: String) = s"$dir/ASSIGN_CURRENT"

  private def fsOf(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Resolve the LIVE assignments directory. Compacted indexes use a
    * versioned layout (`assignments.vN`) behind a one-line `ASSIGN_CURRENT`
    * pointer file that is replaced atomically (posix rename), so a reader
    * always resolves to a complete layout — there is no instant where the
    * live path does not exist. Indexes that were never compacted have no
    * pointer and resolve to the legacy `assignments` directory. */
  def assignDir(spark: SparkSession, dir: String): String = {
    val fs = fsOf(spark, dir)
    val ptr = new org.apache.hadoop.fs.Path(pointerPath(dir))
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      val name = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      s"$dir/$name"
    } else assignPath(dir)
  }

  /** Atomically (re)point `ASSIGN_CURRENT` at `name`: write a sibling tmp
    * file, then rename over the pointer with OVERWRITE — the one atomic
    * primitive the swap needs, applied to a tiny file instead of a
    * directory tree. */
  private def writePointer(spark: SparkSession, dir: String, name: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val cur = new org.apache.hadoop.fs.Path(pointerPath(dir))
    val tmp = new org.apache.hadoop.fs.Path(pointerPath(dir) + ".tmp")
    val fs = fsOf(spark, dir)
    val out = fs.create(tmp, true)
    try out.write(name.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
    fc.rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Delete every assignments layout except `keep` — superseded versions
    * and strays from a compact that crashed before its pointer swap. */
  private def gcLayouts(spark: SparkSession, dir: String, keep: String): Unit = {
    val fs = fsOf(spark, dir)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath)
      .filter { p =>
        val n = p.getName
        (n == "assignments" || n.startsWith("assignments.v")) && n != keep
      }.foreach(p => fs.delete(p, true))
  }

  /** Best-cell(s) expression over broadcast centroids: ascending sort on
    * (−cos, cell) → best first, stable tiebreak (the q_sim_ann_ivf
    * contract, shared verbatim so index answers match the in-memory path
    * bit for bit). */
  def cellsOf(centroids: Array[(Int, Seq[Float])], emb: Column, topN: Int): Column = {
    val scored = centroids.map { case (cell, ce) =>
      val ceCol = array(ce.map(v => lit(v)): _*)
      struct((-cosine_sim(emb, ceCol)).as("neg"), lit(cell).as("cell"))
    }
    slice(sort_array(array(scored.toIndexedSeq: _*)), 1, topN)
  }

  /** Train/derive `nCells` centroids and write the index. `kmeansIters > 0`
    * runs distributed k-means (codebook-sized collects only); 0 takes the
    * `nCells` lowest-id vectors — deterministic, the fixture/oracle path. */
  def build(emb: DataFrame, dir: String, idCol: String, vecCol: String,
      nCells: Int, kmeansIters: Int = 0): Unit = {
    val spark = emb.sparkSession
    val cents: Array[(Int, Seq[Float])] =
      if (kmeansIters > 0) {
        val cb = graft.ops.Pq.trainDistributed(emb, idCol, vecCol, m = 1,
          k = nCells, iters = kmeansIters)
        cb.cents(0).zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      } else {
        emb.orderBy(col(idCol).asc).limit(nCells)
          .select(col(vecCol)).collect().zipWithIndex
          .map { case (r, i) => (i, r.getSeq[Float](0)) }
      }
    import spark.implicits._
    cents.toSeq.toDF("cell", "ce").repartition(1)
      .write.mode("overwrite").parquet(centroidsPath(dir))
    assignAndWrite(emb, dir, idCol, vecCol, cents, overwrite = true)
    // a fresh build resets to the base layout; retire any versioned
    // layouts (and pointer) a previous compact left behind
    writePointer(spark, dir, "assignments")
    gcLayouts(spark, dir, keep = "assignments")
  }

  /** Assign a NEW batch against the EXISTING centroids and append its cell
    * partitions — the daily-ingest path (no retrain, standing partitions
    * untouched). Returns the cells the batch landed in (sorted) — the
    * exact argument [[refreshHnsw]] needs to rebuild only the graphs the
    * append invalidated. */
  def append(emb: DataFrame, dir: String, idCol: String, vecCol: String): Seq[Int] = {
    val cents = readCentroids(emb.sparkSession, dir)
    val staged = emb.select(
        col(idCol).cast("long").as("id"), col(vecCol).as("emb"),
        cellsOf(cents, col(vecCol), 1)(0).getField("cell").as("cell"))
      .persist() // one assignment pass feeds both the write and the cell list
    staged.write.mode("append").partitionBy("cell")
      .parquet(assignDir(emb.sparkSession, dir))
    val cells = staged.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).toSeq.sorted
    staged.unpersist()
    cells
  }

  private def assignAndWrite(emb: DataFrame, dir: String, idCol: String,
      vecCol: String, cents: Array[(Int, Seq[Float])], overwrite: Boolean): Unit =
    emb.select(
        col(idCol).cast("long").as("id"),
        col(vecCol).as("emb"),
        cellsOf(cents, col(vecCol), 1)(0).getField("cell").as("cell"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("cell")
      .parquet(if (overwrite) assignPath(dir) else assignDir(emb.sparkSession, dir))

  def readCentroids(spark: SparkSession, dir: String): Array[(Int, Seq[Float])] =
    spark.read.parquet(centroidsPath(dir)).collect()
      .map(r => (r.getInt(r.fieldIndex("cell")), r.getSeq[Float](r.fieldIndex("ce"))))
      .sortBy(_._1)

  /** Candidate frame for a query frame: each query explodes to its `probes`
    * best cells and joins the index on the PARTITION column, so the scan
    * only opens the probed cell directories. Returns
    * (qid, qe, id, emb) candidate pairs for exact reranking. */
  def candidates(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, qvecCol: String, probes: Int): DataFrame = {
    val cents = readCentroids(spark, dir)
    val probed = queries.select(
        col(qidCol).as("qid"), col(qvecCol).as("qe"),
        explode(transform(cellsOf(cents, col(qvecCol), probes),
          c => c.getField("cell"))).as("cell"))
    // the distinct probed cells are bounded by the INDEX GEOMETRY (≤
    // nCells ints), not by data size — collecting them turns the cell cut
    // into a LITERAL partition filter, so pruning is static (the scan
    // never lists unprobed cell directories), instead of relying on
    // runtime dynamic pruning through the join. The probe frame is NOT
    // persisted: its second evaluation (the join) is one map-only pass
    // over the query frame, cheaper than pinning it in a long-lived
    // serving session.
    val cellIds = probed.select(col("cell")).distinct().collect().map(_.getInt(0))
    spark.read.parquet(assignDir(spark, dir))
      .filter(col("cell").isin(cellIds.toIndexedSeq: _*))
      .join(probed, Seq("cell"))
  }

  /** Exact-cosine top-k over the probed candidates (excluding self-matches
    * by id). */
  def topK(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int, probes: Int): DataFrame = {
    val sims = candidates(spark, dir, queries, qidCol, qvecCol, probes)
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"),
        round(cosine_sim(col("qe"), col("emb")), 4).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), col("sim"))
  }

  /** Compact the assignment partitions: daily appends leave one small file
    * per (batch, cell); this rewrites each cell directory to ~one file
    * (the SegmentCompaction cost model — a scheduled minion, not an ingest
    * hot path). Versioned swap: the rewrite lands in a NEW
    * `assignments.vN+1` directory and the cutover is an atomic replace of
    * the one-line `ASSIGN_CURRENT` pointer — at no instant is the resolved
    * path missing, a crash anywhere leaves the previous pointer (and its
    * complete layout) live. The layout this compact supersedes is RETAINED
    * for one cycle — a reader that resolved the pointer just before the
    * swap finishes its scan — and garbage-collected (with any
    * crashed-compact strays) by the NEXT successful compact or rebuild. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val src = assignDir(spark, dir)
    val srcName = src.substring(src.lastIndexOf('/') + 1)
    gcLayouts(spark, dir, keep = srcName) // layouts superseded in earlier cycles
    val ver = if (srcName == "assignments") 0
      else srcName.substring("assignments.v".length).toInt
    val dstName = s"assignments.v${ver + 1}"
    spark.read.parquet(src)
      .repartition(col("cell")) // one task per cell value → one file per dir
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/$dstName")
    writePointer(spark, dir, dstName) // atomic cutover
  }

  // ---- per-cell HNSW graphs (round 8 — the graph-index class) -------------

  /** One serialized HNSW node: neighbor lists are ID-based (level → ids,
    * closest-first) so a graph rebuilds identically regardless of row order,
    * and the vector is denormalized in so search reads ONE directory per
    * probed cell (no assignments join). */
  final case class HnswRow(cell: Int, id: Long, level: Int,
      nbrs: Seq[Seq[Long]], emb: Seq[Float])

  private def hnswPath(dir: String) = s"$dir/hnsw"

  /** Recursive content signature of the LIVE assignments layout (relative
    * path + length of every data file): graphs describe a snapshot of the
    * assignments, so [[topKHnsw]] refuses to answer from graphs built over
    * a layout that [[append]]/[[compact]]/[[build]] has since changed — the
    * SegmentPruning staleness doctrine (an index is an accelerator, never a
    * silent wrong-answer source). */
  /** Public alias: the signature callers key caches on (e.g. the
    * VECTOR_SIMILARITY planning-time probe memo) — any append/compact/
    * rebuild of the live layout changes it. */
  def layoutSignature(spark: SparkSession, dir: String): String =
    assignSignature(spark, dir)

  private def assignSignature(spark: SparkSession, dir: String): String = {
    val fs = fsOf(spark, dir)
    val root = new org.apache.hadoop.fs.Path(assignDir(spark, dir))
    val it = fs.listFiles(root, true)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val s = it.next()
      val rel = s.getPath.toUri.getPath.stripPrefix(root.toUri.getPath)
      if (!rel.endsWith("_SUCCESS")) parts += s"$rel:${s.getLen}"
    }
    Fingerprint.hash64(parts.sorted.mkString("|"))
  }

  private def graphFpPath(dir: String) = s"${hnswPath(dir)}/_GRAPH_FP"

  /** Identity of the CURRENT graph set: recursive hnsw/ listing with file
    * length AND modification time, PLUS the `_PARAMS` stamp content the
    * builders write (m/efConstruction) — a rebuild with different build
    * parameters can leave every file the same size within one mtime
    * granule, so length+mtime alone could collide; the params content
    * cannot. 64-bit (two murmur seeds) so an accidental 32-bit collision
    * between distinct listings doesn't serve a stale planning-time memo.
    * [[layoutSignature]] alone cannot see a `buildHnsw` re-run — the
    * assignments layout (and thus `_GRAPH_FP`) is unchanged while every
    * graph file is rewritten — so planning-time caches over HNSW answers
    * must key on this. Empty string when no graphs exist. */
  def graphSignature(spark: SparkSession, dir: String): String = {
    val fs = fsOf(spark, dir)
    val root = new org.apache.hadoop.fs.Path(hnswPath(dir))
    if (!fs.exists(root)) return ""
    val it = fs.listFiles(root, true)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val s = it.next()
      val rel = s.getPath.toUri.getPath.stripPrefix(root.toUri.getPath)
      if (!rel.endsWith("_SUCCESS"))
        parts += s"$rel:${s.getLen}:${s.getModificationTime}"
    }
    val pFile = new org.apache.hadoop.fs.Path(graphParamsPath(dir))
    if (fs.exists(pFile)) {
      val in = fs.open(pFile)
      try parts += "params=" +
        scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    Fingerprint.hash64(parts.sorted.mkString("|"))
  }

  private def graphParamsPath(dir: String) = s"${hnswPath(dir)}/_PARAMS"

  /** Record the build parameters alongside the graphs (leading underscore =
    * invisible to the parquet reader). Part of [[graphSignature]]. */
  private def stampGraphParams(spark: SparkSession, dir: String, m: Int,
      efConstruction: Int): Unit = {
    val out = fsOf(spark, dir).create(
      new org.apache.hadoop.fs.Path(graphParamsPath(dir)), true)
    try out.write(s"m=$m,ef=$efConstruction".getBytes("UTF-8"))
    finally out.close()
  }

  /** Build one deterministic HNSW graph PER CELL over the live assignments
    * and persist it partitioned by cell — the sharded-HNSW scale shape (each
    * executor builds the graphs of the cells it holds; no global mutable
    * structure, graphs rebuild independently after append/compact). Pinot
    * 1.2's VectorSimilarity index is the single-node HNSW instance of this
    * class. */
  def buildHnsw(spark: SparkSession, dir: String, m: Int = 8,
      efConstruction: Int = 64): Unit = {
    graphRows(spark, dir, m, efConstruction,
        spark.read.parquet(assignDir(spark, dir)))
      .write.mode("overwrite").partitionBy("cell").parquet(hnswPath(dir))
    stampGraphParams(spark, dir, m, efConstruction)
    stampGraphFp(spark, dir)
  }

  /** Rebuild the graphs of ONLY `cells` (the list [[append]] returns) —
    * incremental index maintenance: an append invalidates exactly the cell
    * graphs it touched, and rewriting those partitions (dynamic partition
    * overwrite) costs the appended cells, not the corpus. Re-stamps the
    * staleness fingerprint, so [[topKHnsw]] serves again. */
  def refreshHnsw(spark: SparkSession, dir: String, cells: Seq[Int],
      m: Int = 8, efConstruction: Int = 64): Unit = {
    graphRows(spark, dir, m, efConstruction,
        spark.read.parquet(assignDir(spark, dir))
          .filter(col("cell").isin(cells.toIndexedSeq: _*)))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(hnswPath(dir))
    stampGraphParams(spark, dir, m, efConstruction)
    stampGraphFp(spark, dir)
  }

  private def graphRows(spark: SparkSession, dir: String, m: Int,
      efConstruction: Int, assigns: DataFrame): DataFrame = {
    val p = graft.ops.Hnsw.Params(m, efConstruction)
    import spark.implicits._
    assigns
      .select(col("cell"), col("id"), col("emb"))
      .repartition(col("cell"))
      .as[(Int, Long, Seq[Float])]
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (cell, rows) =>
          val pts = rows.map { case (_, id, e) => (id, e.toArray) }
          val g = graft.ops.Hnsw.build(pts, p)
          (0 until g.size).iterator.map { s =>
            HnswRow(cell, g.ids(s), g.levels(s),
              g.neighbors(s).toSeq.map(_.toSeq.map(g.ids(_))), g.vecs(s).toSeq)
          }
        }
      }
      .toDF()
  }

  private def stampGraphFp(spark: SparkSession, dir: String): Unit = {
    val out = fsOf(spark, dir).create(
      new org.apache.hadoop.fs.Path(graphFpPath(dir)), true)
    try out.write(assignSignature(spark, dir).getBytes("UTF-8")) finally out.close()
  }

  /** Rebuild a [[graft.ops.Hnsw.Graph]] from its serialized rows. Entry =
    * max-level node, lowest id on ties — exactly the node the deterministic
    * builder promoted, so the rebuilt graph searches bit-identically. */
  def graphOf(rows: Seq[HnswRow]): graft.ops.Hnsw.Graph = {
    val sorted = rows.sortBy(_.id).toArray
    val ids = sorted.map(_.id)
    val slotOf = ids.zipWithIndex.toMap
    val nbrs = sorted.map(_.nbrs.map(_.map(slotOf(_)).toArray).toArray)
    val levels = sorted.map(_.level)
    val entry = if (ids.isEmpty) -1
      else levels.zipWithIndex.minBy { case (l, s) => (-l, ids(s)) }._2
    new graft.ops.Hnsw.Graph(ids, sorted.map(_.emb.toArray), levels, nbrs,
      entry, if (levels.isEmpty) -1 else levels.max)
  }

  /** Top-k through the per-cell graphs: queries probe their `probes` best
    * cells (same static partition cut as [[topK]]), each probed cell's graph
    * is searched with beam `ef` (per-cell top-k, NOT an exhaustive scan),
    * and the per-cell hits merge to a global top-k. Output shape and ranking
    * (`round(sim,4)` desc, nid asc) match [[topK]], so when the beam search
    * is exact within every probed cell the two routes are bit-identical. */
  def topKHnsw(spark: SparkSession, dir: String, queries: DataFrame,
      qidCol: String, qvecCol: String, k: Int, probes: Int, ef: Int): DataFrame = {
    val fpFile = new org.apache.hadoop.fs.Path(graphFpPath(dir))
    val fs = fsOf(spark, dir)
    require(fs.exists(fpFile), s"no HNSW graphs at $dir — run buildHnsw first")
    val stored = {
      val in = fs.open(fpFile)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    }
    require(stored == assignSignature(spark, dir),
      s"HNSW graphs at $dir are STALE: the assignments layout changed since " +
        "buildHnsw (append/compact/build). Rebuild with buildHnsw — graphs " +
        "never silently answer from a layout they don't describe.")
    val cents = readCentroids(spark, dir)
    val qRows = queries.select(
        col(qidCol).cast("long").as("qid"), col(qvecCol).as("qe"),
        transform(cellsOf(cents, col(qvecCol), probes),
          c => c.getField("cell")).as("cells"))
      .collect()
    // query set is the broadcast-a-tiny-side pattern (bruteForceTopK's
    // contract); its probed-cell ids bound the scan statically like topK
    val qByCell: Map[Int, Seq[(Long, Array[Float])]] = qRows.toSeq
      .flatMap { r =>
        val qid = r.getLong(0)
        val qe = r.getSeq[Float](1).toArray
        r.getSeq[Int](2).map(c => (c, (qid, qe)))
      }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sortBy(_._1) }
    val cellIds = qByCell.keys.toArray.sorted
    val bc = spark.sparkContext.broadcast(qByCell)
    import spark.implicits._
    val hits = spark.read.parquet(hnswPath(dir))
      .filter(col("cell").isin(cellIds.toIndexedSeq: _*))
      .select(col("cell"), col("id"), col("level"), col("nbrs"), col("emb"))
      // a cell's rows MUST be co-partitioned before the per-partition
      // graph rebuild: without this, a cell spanning input splits (multiple
      // append files, or row-group splits of one big file at scale) would
      // rebuild from partial rows — graphOf fails loudly on a dangling
      // neighbor id, but correct-by-construction beats loud. The shuffle
      // moves only the probed cells' rows, bounded by probes × cell size.
      .repartition(col("cell"))
      .as[HnswRow]
      .mapPartitions { it =>
        it.toSeq.groupBy(_.cell).iterator.flatMap { case (cell, rows) =>
          val g = graphOf(rows)
          bc.value.getOrElse(cell, Seq.empty).iterator.flatMap { case (qid, qe) =>
            graft.ops.Hnsw.search(g, qe, k, ef, excludeId = qid)
              .hits.map { case (nid, sim) => (qid, nid, sim) }
          }
        }
      }
      .toDF("qid", "nid", "rawsim")
      .select(col("qid"), col("nid"), round(col("rawsim"), 4).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("nid"), col("sim"))
  }

  /** Cell population stats — `imbalance` (max/mean) is the drift signal
    * that schedules a centroid retrain. */
  def stats(spark: SparkSession, dir: String): Stats = {
    val rows = spark.read.parquet(assignDir(spark, dir))
      .groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
    val counts = rows.map(_.getLong(1))
    val total = counts.sum
    Stats(total, counts.length, if (counts.isEmpty) 0L else counts.max,
      if (counts.isEmpty) 0.0 else counts.max.toDouble / (total.toDouble / counts.length))
  }
}
