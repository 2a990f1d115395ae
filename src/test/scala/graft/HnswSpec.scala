package graft

import graft.ops.Hnsw
import graft.sources.{AnnIndex, Tables}
import org.apache.spark.sql.functions._

/** Deterministic HNSW graph index: rebuild/search determinism, recall vs
  * brute force, sublinear traversal cost, degree bounds, and bit-parity of
  * the persisted per-cell route (AnnIndex.buildHnsw/topKHnsw) with both the
  * in-memory graph and the exhaustive IVF scan. */
class HnswSpec extends GraftSuite {

  /** Seeded isotropic float vectors — the fixture generator's shape. */
  private def randomPoints(n: Int, dim: Int, seed: Long): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(r.nextFloat() * 2f - 1f)))
  }

  private def bruteTopK(pts: Seq[(Long, Array[Float])], q: Array[Float],
      k: Int, excludeId: Long): Seq[Long] =
    pts.filter(_._1 != excludeId)
      .map { case (id, v) => (Hnsw.dist(q, v), id) }
      .sorted.take(k).map(_._2)

  test("build and search are deterministic and rebuild-stable") {
    val pts = randomPoints(400, 16, seed = 7)
    val p = Hnsw.Params(m = 8, efConstruction = 48)
    val g1 = Hnsw.build(pts, p)
    val g2 = Hnsw.build(scala.util.Random.shuffle(pts.toList), p) // order-free
    assert(g1.ids.toSeq === g2.ids.toSeq)
    assert(g1.levels.toSeq === g2.levels.toSeq)
    assert(g1.entry === g2.entry && g1.maxLevel === g2.maxLevel)
    assert(g1.neighbors.map(_.map(_.toSeq).toSeq).toSeq ===
      g2.neighbors.map(_.map(_.toSeq).toSeq).toSeq)
    val q = pts(123)._2
    val r1 = Hnsw.search(g1, q, 10, 32)
    val r2 = Hnsw.search(g2, q, 10, 32)
    assert(r1.hits === r2.hits && r1.evals === r2.evals)
  }

  test("levels are a function of (seed, id) with the geometric distribution") {
    val p = Hnsw.Params(m = 8)
    val levels = (0L until 10000L).map(Hnsw.levelOf(_, p))
    assert(levels.min === 0)
    val frac0 = levels.count(_ == 0).toDouble / levels.size
    // P(level 0) = 1 - 1/m = 0.875 for m=8
    assert(math.abs(frac0 - 0.875) < 0.02, s"frac0=$frac0")
    assert(levels.max <= 8, "tail must stay shallow at 10k nodes")
  }

  test("degree bounds hold everywhere: <= 2m at layer 0, <= m above") {
    val p = Hnsw.Params(m = 6, efConstruction = 48)
    val g = Hnsw.build(randomPoints(500, 16, seed = 11), p)
    for (s <- 0 until g.size; lc <- 0 to g.levels(s)) {
      val bound = if (lc == 0) p.mMax0 else p.m
      assert(g.neighbors(s)(lc).length <= bound, s"slot $s level $lc")
    }
  }

  test("recall@10 >= 0.95 vs brute force, with sublinear traversal cost") {
    val pts = randomPoints(4000, 16, seed = 3)
    val g = Hnsw.build(pts, Hnsw.Params(m = 12, efConstruction = 96))
    val queryIds = (0 until 40).map(_ * 97L)
    var hitSum = 0.0
    var evalSum = 0L
    queryIds.foreach { qid =>
      val q = pts(qid.toInt)._2
      val truth = bruteTopK(pts, q, 10, excludeId = qid).toSet
      val r = Hnsw.search(g, q, 10, ef = 64, excludeId = qid)
      hitSum += r.hits.count(h => truth.contains(h._1)) / 10.0
      evalSum += r.evals
    }
    val recall = hitSum / queryIds.size
    val meanEvals = evalSum.toDouble / queryIds.size
    assert(recall >= 0.95, s"recall=$recall")
    assert(meanEvals < 4000 * 0.4, s"meanEvals=$meanEvals — graph must not degenerate to a scan")
  }

  test("self-search with ef <= k still returns k hits (excluded node must not occupy a result slot)") {
    val pts = randomPoints(500, 16, seed = 23)
    val g = Hnsw.build(pts, Hnsw.Params(m = 8, efConstruction = 64))
    (0 until 20).map(_ * 23L).foreach { qid =>
      val q = pts(qid.toInt)._2
      // ef == k and ef < k: the query point is IN the graph and closest to
      // itself, so before the round-9 fix the trimmed heap wasted a slot on
      // it and returned only k-1 hits
      Seq(10 -> 10, 10 -> 4).foreach { case (k, ef) =>
        val r = Hnsw.search(g, q, k, ef, excludeId = qid)
        assert(r.hits.size === k, s"qid=$qid k=$k ef=$ef got ${r.hits.size}")
        assert(!r.hits.exists(_._1 == qid), s"qid=$qid leaked into results")
      }
    }
  }

  test("serialized rows rebuild a graph that searches bit-identically") {
    val pts = randomPoints(300, 16, seed = 19)
    val p = Hnsw.Params(m = 8, efConstruction = 48)
    val g = Hnsw.build(pts, p)
    val rows = (0 until g.size).map { s =>
      AnnIndex.HnswRow(0, g.ids(s), g.levels(s),
        g.neighbors(s).toSeq.map(_.toSeq.map(g.ids(_))), g.vecs(s).toSeq)
    }
    val g2 = AnnIndex.graphOf(scala.util.Random.shuffle(rows.toList))
    assert(g2.entry === g.entry && g2.maxLevel === g.maxLevel)
    pts.take(20).foreach { case (qid, q) =>
      val a = Hnsw.search(g, q, 5, 32, excludeId = qid)
      val b = Hnsw.search(g2, q, 5, 32, excludeId = qid)
      assert(a.hits === b.hits && a.evals === b.evals)
    }
  }

  test("persisted per-cell route: wide beam equals the exhaustive IVF scan bit for bit") {
    val dir = tempDir()
    val e = Tables.t(spark, sfDir, "embeddings")
    AnnIndex.build(e, dir, "vec_id", "embedding", nCells = 16)
    AnnIndex.buildHnsw(spark, dir, m = 8, efConstruction = 64)
    val queries = e.filter(col("vec_id") >= 20 && col("vec_id") < 40)
    // ef >= max cell population -> layer-0 beam search is exhaustive within
    // every probed cell -> identical candidates, identical ranking contract
    val maxCell = AnnIndex.stats(spark, dir).maxCell.toInt
    val viaGraph = AnnIndex.topKHnsw(spark, dir, queries, "vec_id", "embedding",
        k = 3, probes = 2, ef = maxCell)
      .orderBy(col("qid"), col("rn")).collect().toSeq
    val viaScan = AnnIndex.topK(spark, dir, queries, "vec_id", "embedding",
        k = 3, probes = 2)
      .orderBy(col("qid"), col("rn")).collect().toSeq
    assert(viaGraph.map(_.toSeq) === viaScan.map(_.toSeq))
  }

  test("VECTOR_SIMILARITY with ef > 0 routes through the graphs; wide beam equals the scan route") {
    val dir = tempDir()
    val e = Tables.t(spark, sfDir, "embeddings")
    AnnIndex.build(e, dir, "vec_id", "embedding", nCells = 16)
    AnnIndex.buildHnsw(spark, dir, m = 8, efConstruction = 64)
    val qv = e.filter(col("vec_id") === 0).select("embedding").collect()(0).getSeq[Float](0)
    val arr = qv.map(_.toString).mkString(", ")
    val sql = s"""SELECT vec_id FROM embeddings
                 |WHERE VECTOR_SIMILARITY(embedding, CAST(ARRAY($arr) AS ARRAY<FLOAT>), 5)
                 |ORDER BY vec_id""".stripMargin
    def answered(ef: Int): (Set[Long], String) = {
      val s = spark.newSession()
      PinotFunctions.register(s); Tables.registerViews(s, sfDir)
      graft.plans.VectorSimilarity.register(
        s, s"$sfDir/embeddings.parquet", "embedding", "vec_id", dir, probes = 4, ef = ef)
      val df = s.sql(sql)
      (df.collect().map(_.getLong(0)).toSet, df.queryExecution.optimizedPlan.toString)
    }
    val (viaScan, _) = answered(ef = 0)
    val maxCell = AnnIndex.stats(spark, dir).maxCell.toInt
    val (viaGraph, plan) = answered(ef = maxCell)
    assert(viaGraph === viaScan, "wide-beam graph probe must equal the exhaustive scan probe")
    assert(plan.contains(" IN ") || plan.toLowerCase.contains("in ("),
      s"graph route must still rewrite to an IN-list filter:\n$plan")
  }

  test("graphSignature changes on a param-different rebuild while layoutSignature does not") {
    val dir = tempDir()
    val e = Tables.t(spark, sfDir, "embeddings")
    AnnIndex.build(e, dir, "vec_id", "embedding", nCells = 16)
    assert(AnnIndex.graphSignature(spark, dir) === "", "no graphs yet -> empty")
    AnnIndex.buildHnsw(spark, dir, m = 8, efConstruction = 64)
    val layout1 = AnnIndex.layoutSignature(spark, dir)
    val g1 = AnnIndex.graphSignature(spark, dir)
    assert(g1.nonEmpty)
    Thread.sleep(5) // modtime granularity
    // a rebuild with DIFFERENT build params rewrites every graph file but
    // leaves the assignments layout (and the _GRAPH_FP stamp) unchanged —
    // the VECTOR_SIMILARITY probe memo must see a new key (round-8 advice)
    AnnIndex.buildHnsw(spark, dir, m = 4, efConstruction = 16)
    assert(AnnIndex.layoutSignature(spark, dir) === layout1)
    assert(AnnIndex.graphSignature(spark, dir) !== g1,
      "graph identity must change when the graphs are rebuilt")
  }

  test("refreshHnsw rebuilds only the appended cells and equals a full rebuild") {
    val dirIncr = tempDir(); val dirFull = tempDir()
    val e = Tables.t(spark, sfDir, "embeddings")
    val n = e.count()
    // incremental: half build + graph, append rest, refresh touched cells
    AnnIndex.build(e.filter(col("vec_id") < n / 2), dirIncr, "vec_id", "embedding", nCells = 16)
    AnnIndex.buildHnsw(spark, dirIncr, m = 8, efConstruction = 64)
    val touched = AnnIndex.append(
      e.filter(col("vec_id") >= n / 2), dirIncr, "vec_id", "embedding")
    assert(touched.nonEmpty && touched == touched.sorted)
    AnnIndex.refreshHnsw(spark, dirIncr, touched, m = 8, efConstruction = 64)
    // full: same data in one build (centroids identical — ids < 16 in both)
    AnnIndex.build(e, dirFull, "vec_id", "embedding", nCells = 16)
    AnnIndex.buildHnsw(spark, dirFull, m = 8, efConstruction = 64)
    val queries = e.filter(col("vec_id") >= 20 && col("vec_id") < 40)
    val a = AnnIndex.topKHnsw(spark, dirIncr, queries, "vec_id", "embedding", 5, 2, 32)
      .orderBy(col("qid"), col("rn")).collect().toSeq
    val b = AnnIndex.topKHnsw(spark, dirFull, queries, "vec_id", "embedding", 5, 2, 32)
      .orderBy(col("qid"), col("rn")).collect().toSeq
    assert(a.map(_.toSeq) === b.map(_.toSeq),
      "refreshed incremental graphs must answer bit-identically to a full rebuild")
    // untouched cells kept their ORIGINAL graph files (only touched cells rewrote)
    val untouched = (0 until 16).filterNot(touched.contains)
    if (untouched.nonEmpty) {
      val rowsInc = spark.read.parquet(s"$dirIncr/hnsw")
        .filter(col("cell") === untouched.head).count()
      assert(rowsInc > 0)
    }
  }

  test("streaming ingest keeps the graph index serveable: append + refresh per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = tempDir()
    val e = Tables.t(spark, sfDir, "embeddings")
    val n = e.count()
    AnnIndex.build(e.filter(col("vec_id") < n / 2), dir, "vec_id", "embedding", nCells = 16)
    AnnIndex.buildHnsw(spark, dir, m = 8, efConstruction = 64)
    val tail = e.filter(col("vec_id") >= n / 2)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val ms = MemoryStream[(Long, Seq[Float])]
    ms.addData(tail.toSeq)
    val q = ms.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        // the micro-batch maintenance loop: append, then rebuild exactly
        // the graphs the batch invalidated — the index never goes dark
        val touched = AnnIndex.append(b, dir, "vec_id", "embedding")
        AnnIndex.refreshHnsw(spark, dir, touched, m = 8, efConstruction = 64)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // graphs are FRESH (no staleness refusal) and equal an all-batch build
    val queries = e.filter(col("vec_id") >= 20 && col("vec_id") < 40)
    val dirAll = tempDir()
    AnnIndex.build(e, dirAll, "vec_id", "embedding", nCells = 16)
    AnnIndex.buildHnsw(spark, dirAll, m = 8, efConstruction = 64)
    val a = AnnIndex.topKHnsw(spark, dir, queries, "vec_id", "embedding", 5, 2, 32)
      .orderBy(col("qid"), col("rn")).collect().toSeq
    val b = AnnIndex.topKHnsw(spark, dirAll, queries, "vec_id", "embedding", 5, 2, 32)
      .orderBy(col("qid"), col("rn")).collect().toSeq
    assert(a.map(_.toSeq) === b.map(_.toSeq))
  }

  test("fragmented cell graphs (many files per cell) still rebuild whole") {
    val dir = tempDir()
    val e = Tables.t(spark, sfDir, "embeddings")
    AnnIndex.build(e, dir, "vec_id", "embedding", nCells = 8)
    AnnIndex.buildHnsw(spark, dir, m = 8, efConstruction = 64)
    val queries = e.filter(col("vec_id") < 10)
    val before = AnnIndex.topKHnsw(spark, dir, queries, "vec_id", "embedding", 5, 2, 32)
      .orderBy(col("qid"), col("rn")).collect().toSeq
    // fragment the layout: rewrite every cell's rows across many files —
    // the shape a row-group split or repeated refresh produces at scale
    val fp = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/hnsw/_GRAPH_FP"))
    val frag = spark.read.parquet(s"$dir/hnsw")
    frag.repartition(16)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/hnsw_frag")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmrf)); f.delete(): Unit
    }
    rmrf(new java.io.File(s"$dir/hnsw"))
    assert(new java.io.File(s"$dir/hnsw_frag").renameTo(new java.io.File(s"$dir/hnsw")))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/hnsw/_GRAPH_FP"), fp)
    val cellFiles = new java.io.File(s"$dir/hnsw").listFiles
      .filter(_.getName.startsWith("cell="))
      .map(_.listFiles.count(_.getName.endsWith(".parquet")))
    assert(cellFiles.exists(_ > 1), "fragmentation must actually produce multi-file cells")
    val after = AnnIndex.topKHnsw(spark, dir, queries, "vec_id", "embedding", 5, 2, 32)
      .orderBy(col("qid"), col("rn")).collect().toSeq
    assert(after.map(_.toSeq) === before.map(_.toSeq))
  }

  test("stale graphs refuse loudly after append; rebuild re-admits") {
    val dir = tempDir()
    val e = Tables.t(spark, sfDir, "embeddings")
    val n = e.count()
    AnnIndex.build(e.filter(col("vec_id") < n / 2), dir, "vec_id", "embedding", nCells = 8)
    AnnIndex.buildHnsw(spark, dir, m = 8, efConstruction = 32)
    val queries = e.filter(col("vec_id") < 5)
    assert(AnnIndex.topKHnsw(spark, dir, queries, "vec_id", "embedding", 3, 2, 16)
      .collect().nonEmpty)
    AnnIndex.append(e.filter(col("vec_id") >= n / 2), dir, "vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      AnnIndex.topKHnsw(spark, dir, queries, "vec_id", "embedding", 3, 2, 16).collect()
    }
    assert(err.getMessage.contains("STALE"))
    AnnIndex.buildHnsw(spark, dir, m = 8, efConstruction = 32)
    assert(AnnIndex.topKHnsw(spark, dir, queries, "vec_id", "embedding", 3, 2, 16)
      .collect().nonEmpty)
  }

  test("persisted per-cell route: narrow beam keeps recall >= 0.9 vs the exhaustive scan") {
    val dir = tempDir()
    val e = Tables.t(spark, sfDir, "embeddings")
    AnnIndex.build(e, dir, "vec_id", "embedding", nCells = 16)
    AnnIndex.buildHnsw(spark, dir, m = 8, efConstruction = 64)
    val queries = e.filter(col("vec_id") >= 20 && col("vec_id") < 40)
    val truth = AnnIndex.topK(spark, dir, queries, "vec_id", "embedding", 10, 2)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val got = AnnIndex.topKHnsw(spark, dir, queries, "vec_id", "embedding", 10, 2, ef = 16)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recalls = truth.map { case (qid, t) =>
      got.getOrElse(qid, Set.empty).count(t.contains).toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean per-query recall=$mean")
  }
}
