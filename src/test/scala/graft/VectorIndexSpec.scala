package graft

import graft.operators.{CentroidGraph, IndexBuild, VectorIndex}
import org.apache.spark.sql.functions._

/** Approximation-quality tests for the IVF indexes (the correctness keys
  * run exact-equivalent configurations; this covers nprobes < cells). */
class VectorIndexSpec extends SparkSpec {

  /** A fresh 16-cell `IndexBuild` index of `tpe` over the fixture's
    * embeddings, plus `opts`. */
  private def built(tpe: String, opts: (String, String)*): IndexBuild.BuiltIndex =
    IndexBuild.build(spark, Tables.t(spark, sf, "embeddings"),
      java.nio.file.Files.createTempDirectory("graft-ivfspec-").toString,
      Map("index.type" -> tpe, "index.num-partitions" -> "16") ++ opts)

  private lazy val flatIdx = built("IVF_FLAT")

  /** The fragment counts (kept, total) of the index scan in `plan`. */
  private def fragments(plan: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val text = plan.queryExecution.executedPlan.toString
    val m = "fragments=(\\d+)/(\\d+)".r.findFirstMatchIn(text)
    assert(m.isDefined, text)
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  test("ivf_flat recall grows with nprobes and reaches >= 0.8 at 10/16") {
    // near-random 64-dim vectors are the worst case for IVF (true
    // neighbors scatter across cells): measured recall@10 here is
    // 2→0.2, 4→0.4, 8→0.7, 10→0.9, 12→1.0
    val qv = VectorIndex.embeddingOf(spark, sf, vecId = 1L)
    def ids(nprobes: Int): Set[Long] = IndexBuild.search(spark, flatIdx, qv,
      Map("vector.nprobes" -> nprobes.toString, "vector.k" -> "10"), excludeVecId = 1L)
      .collect().map(_.getLong(0)).toSet
    val exact = ids(16)
    def recallAt(nprobes: Int): Double = ids(nprobes).intersect(exact).size.toDouble / exact.size
    val r2 = recallAt(2); val r10 = recallAt(10)
    assert(r10 >= 0.8, s"recall@nprobes=10 was $r10")
    assert(r10 >= r2, s"recall not monotone: $r2 -> $r10")
  }

  test("ivf probe filter prunes index fragments in the plan") {
    val qv = VectorIndex.embeddingOf(spark, sf, vecId = 1L)
    val (kept, total) = fragments(IndexBuild.searchPlan(spark, flatIdx, qv,
      Map("vector.nprobes" -> "2", "vector.k" -> "10")))
    assert(kept < total, s"no fragment pruning: $kept/$total")
  }

  test("ivf_pq_search is deterministic and roughly orders by true distance") {
    val r1 = SparkEntry.queries("ivf_pq_search")(spark, sf).collect()
    val r2 = SparkEntry.queries("ivf_pq_search")(spark, sf).collect()
    assert(r1.map(_.getLong(0)).sameElements(r2.map(_.getLong(0))))
    assert(r1.length === 10)
    // sanity: PQ top-10 should overlap the exact top-30 (weak bound — PQ on
    // near-random vectors quantizes coarsely)
    val pq = r1.map(_.getLong(0)).toSet
    val exact = SparkEntry.queries("ivf_flat_search")(spark, sf)
      .limit(30).collect().map(_.getLong(0)).toSet
    assert(pq.intersect(exact).nonEmpty, s"pq=$pq exact30=$exact")
  }

  test("pq scan is UDF-free (codegen'd encode + ADC)") {
    val key = VectorIndex.ivfKeys("ivf_pq_search")
    val idx = VectorIndex.buildKey(spark, sf, key)
    val plan = VectorIndex.searchKeyPlan(spark, idx, key,
      VectorIndex.embeddingOf(spark, sf, vecId = 1L)).queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan)
    assert(!plan.contains("BatchEvalPython"), plan)
    assert(plan.toLowerCase.contains("pqadc"), plan)
  }

  test("vector/index options parse with reference names, defaults, and V2-lowercased keys") {
    import graft.sources.lance.LanceVectorOptions
    val d = LanceVectorOptions.search(Map.empty)
    assert((d.column, d.metric, d.k, d.nprobes, d.ef, d.refineFactor) ===
      (("embedding", "l2", 10, 20, 100, None)))
    val s = LanceVectorOptions.search(Map(
      "vector.column" -> "emb", "vector.metric" -> "COSINE", "vector.k" -> "5",
      "vector.nprobes" -> "4", "vector.ef" -> "32", "vector.refine-factor" -> "3"))
    assert((s.column, s.metric, s.k, s.nprobes, s.ef, s.refineFactor) ===
      (("emb", "cosine", 5, 4, 32, Some(3))))
    val i = LanceVectorOptions.index(Map(
      "index.type" -> "ivf_hnsw", "index.num-partitions" -> "64",
      "index.num-sub-vectors" -> "8", "index.num-bits" -> "4",
      "index.m" -> "12", "index.ef-construction" -> "50"))
    assert((i.indexType, i.numPartitions, i.numSubVectors, i.numBits, i.hnswM, i.efConstruction) ===
      (("IVF_HNSW", 64, Some(8), 4, 12, 50)))
    intercept[IllegalArgumentException] {
      LanceVectorOptions.search(Map("vector.metric" -> "hamming"))
    }
  }

  test("IndexBuild.search honors vector.* options: metric, k, nprobes pruning") {
    val qv = VectorIndex.embeddingOf(spark, sf, vecId = 1L)
    val rows = IndexBuild.search(spark, flatIdx, qv,
      Map("vector.metric" -> "cosine", "vector.k" -> "7", "vector.nprobes" -> "16"),
      excludeVecId = 1L).collect()
    assert(rows.length === 7)
    // cosine is a similarity: descending order
    val scores = rows.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse), scores.mkString(","))
    // small nprobes must prune index fragments in the plan
    val (kept, total) = fragments(IndexBuild.searchPlan(spark, flatIdx, qv,
      Map("vector.nprobes" -> "2"), excludeVecId = 1L))
    assert(kept < total, s"no fragment pruning: $kept/$total")
  }

  test("centroid graph: full-ef probe == exact probe selection; partial ef still sane") {
    val centroids = flatIdx.centroids
    val qv = VectorIndex.embeddingOf(spark, sf, vecId = 1L)
    val g = CentroidGraph.build(spark, centroids, m = 4, efConstruction = 16)
    val exact = VectorIndex.selectProbesExact(centroids, qv, 4)
    val full = g.probe(qv, 4, ef = centroids.length)
    assert(full.toSeq === exact.toSeq) // connected graph + full ef visits all
    val partial = g.probe(qv, 4, ef = 6)
    assert(partial.length === 4)
    // the single nearest cell is found even with a small ef
    assert(partial.head === exact.head)
  }

  test("options-driven index build/load/search: full-probe flat == exact; PQ+HNSW reload from disk") {
    val base = java.nio.file.Files.createTempDirectory("graft-idxbuild-").toString
    val e = Tables.t(spark, sf, "embeddings")
    val qv = VectorIndex.embeddingOf(spark, sf, vecId = 1L)

    val flat = IndexBuild.build(spark, e, s"$base/flat",
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
    val viaIdx = IndexBuild.search(spark, flat, qv,
      Map("vector.nprobes" -> "16", "vector.k" -> "15"), excludeVecId = 1L)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = SparkEntry.queries("ivf_flat_search")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaIdx.toSeq === exact.toSeq)

    IndexBuild.build(spark, e, s"$base/pq",
      Map("index.type" -> "IVF_HNSW_PQ", "index.num-partitions" -> "8",
          "index.num-bits" -> "4"))
    val loaded = IndexBuild.load(spark, s"$base/pq") // fresh handle from the sidecar
    assert(loaded.pq.isDefined && loaded.graph.isDefined)
    assert(loaded.opts.indexType === "IVF_HNSW_PQ")
    val r = IndexBuild.search(spark, loaded, qv,
      Map("vector.nprobes" -> "8", "vector.ef" -> "8", "vector.k" -> "10",
          "vector.refine-factor" -> "2"), excludeVecId = 1L).collect()
    assert(r.length === 10)
    val dists = r.map(_.getDouble(1))
    assert(dists.sameElements(dists.sorted), dists.mkString(","))
    // ADC-only (no refine) also answers and is deterministic
    val adc1 = IndexBuild.search(spark, loaded, qv,
      Map("vector.nprobes" -> "8", "vector.k" -> "10"), excludeVecId = 1L)
      .collect().map(_.getLong(0)).toSeq
    val adc2 = IndexBuild.search(spark, loaded, qv,
      Map("vector.nprobes" -> "8", "vector.k" -> "10"), excludeVecId = 1L)
      .collect().map(_.getLong(0)).toSeq
    assert(adc1 === adc2)
  }

  test("incremental append indexes new vectors without retraining; search equals full scan") {
    val base = java.nio.file.Files.createTempDirectory("graft-idxappend-").toString
    val e = Tables.t(spark, sf, "embeddings")
    val (seed, late) = (e.filter(col("vec_id") < 400), e.filter(col("vec_id") >= 400))
    assert(late.count() > 0)

    val idx = IndexBuild.build(spark, seed, s"$base/flat",
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
    val lateId = late.select(min("vec_id")).first().getLong(0)
    val qv = VectorIndex.embeddingOf(spark, sf, vecId = lateId)
    // the late vector is invisible before the append...
    val before = IndexBuild.search(spark, idx,
      qv, Map("vector.nprobes" -> "16", "vector.k" -> "1"))
      .collect()
    assert(before.head.getLong(0) !== lateId)

    IndexBuild.append(spark, late, idx)
    // centroids unchanged (no retrain): the sidecar still matches the handle
    val reloaded = IndexBuild.load(spark, s"$base/flat")
    assert(reloaded.centroids.map(_.toArray.toSeq).toSeq ===
      idx.centroids.map(_.toArray.toSeq).toSeq)
    // ...and is its own nearest neighbor after (distance 0 at full probes)
    val after = IndexBuild.search(spark, reloaded, qv,
      Map("vector.nprobes" -> "16", "vector.k" -> "1")).collect()
    assert(after.head.getLong(0) === lateId)
    assert(after.head.getDouble(1) === 0.0)
    // full-probe search over the appended index == brute force on the union
    val viaIdx = IndexBuild.search(spark, reloaded, qv,
      Map("vector.nprobes" -> "16", "vector.k" -> "10"), excludeVecId = lateId)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    import spark.implicits._
    val qvDf = Seq(Tuple1(qv.map(_.toFloat))).toDF("qv")
    val brute = e.crossJoin(qvDf)
      .filter(col("vec_id") =!= lateId)
      .select(col("vec_id"),
        round(graft.functions.vec_l2(col("embedding"), col("qv")), 6).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIdx === brute)
  }

  test("append assignment plan is UDF-free (codegen'd NearestCell + PqEncode)") {
    val base = java.nio.file.Files.createTempDirectory("graft-idxplan-").toString
    val e = Tables.t(spark, sf, "embeddings")
    val idx = IndexBuild.build(spark, e.filter(col("vec_id") < 400), base,
      Map("index.type" -> "IVF_PQ", "index.num-partitions" -> "8",
        "index.num-sub-vectors" -> "8"))
    val plan = IndexBuild.assignToCells(e.filter(col("vec_id") >= 400), idx)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan)
    assert(!plan.contains("BatchEvalPython"), plan)
    assert(plan.toLowerCase.contains("nearestcell"), plan)
    assert(plan.toLowerCase.contains("pqencode"), plan)
    // and the assignment agrees with the interpreted argmin on every row
    val cells = idx.centroids.length
    val flat = idx.centroids.flatMap(_.toArray)
    val dim = flat.length / cells
    IndexBuild.assignToCells(e, idx)
      .select(col("embedding"), col("cell")).collect().foreach { r =>
        val v = r.getSeq[Float](0)
        val exact = (0 until cells).minBy { c =>
          var s = 0.0; var d = 0
          while (d < dim) { val df = v(d) - flat(c * dim + d); s += df * df; d += 1 }
          s
        }
        assert(r.getInt(1) === exact)
      }
  }

  test("one encode rule: pq_encode and sq_encode appear only in IndexBuild.assignToCells") {
    val sites = Seq("pq_encode(", "sq_encode(").flatMap(OperatorSources.sites)
    assert(sites.map(s => (s._1, s._2)).distinct === Seq(("IndexBuild.scala", "assignToCells")),
      sites)
  }

  test("drift ratio stays ~1 for in-distribution appends, inflates on shift") {
    val base = java.nio.file.Files.createTempDirectory("graft-idxdrift-").toString
    val e = Tables.t(spark, sf, "embeddings")
    val idx = IndexBuild.build(spark, e.filter(col("vec_id") < 400), base,
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
    assert(idx.residual.exists(_ > 0))
    // appending more of the SAME distribution barely moves the error...
    IndexBuild.append(spark, e.filter(col("vec_id") >= 400), idx)
    val reloaded = IndexBuild.load(spark, base)
    val inDist = IndexBuild.driftRatio(spark, reloaded)
    assert(inDist > 0.8 && inDist < 1.2, s"in-distribution drift: $inDist")
    // ...but a shifted distribution (scaled 4x) inflates it past a
    // rebuild threshold
    IndexBuild.append(spark,
      e.filter(col("vec_id") < 200).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(4.0f)).as("embedding"),
        col("label")),
      reloaded)
    val shifted = IndexBuild.driftRatio(spark, IndexBuild.load(spark, base))
    assert(shifted > 1.3, s"expected shifted drift > 1.3, got $shifted")
  }

  test("CALL system.reindex: no-op in-distribution, rebuild on drift, recall recovers") {
    spark.conf.set("spark.sql.catalog.lance_rx",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = java.nio.file.Files.createTempDirectory("graft-rxproc-").toString
    spark.conf.set("spark.sql.catalog.lance_rx.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_rx.db")
    val e = Tables.t(spark, sf, "embeddings")
    val root = s"$wh/db/vidx"
    val conf = org.apache.spark.sql.graft.Shim.hadoopConf(spark, Map.empty)
    val idx = IndexBuild.build(spark, e.filter(col("vec_id") < 400), root,
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
    // in-distribution append: drift ~1 → the CALL must NO-OP
    IndexBuild.append(spark, e.filter(col("vec_id") >= 400), idx)
    val r1 = spark.sql(
      "CALL lance_rx.system.reindex(table => 'db.vidx', threshold => 1.3)").collect().head
    assert(!r1.getBoolean(2), s"in-distribution drift ${r1.getDouble(0)} triggered a rebuild")
    assert(r1.getDouble(0) < 1.3)
    val versionBefore = graft.sources.lance.ManifestIO.loadLatest(root, conf).get.version
    // shifted append (4x-scaled copies): stale centroids → drift inflates
    val shifted = e.filter(col("vec_id") < 200).select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), x => x * lit(4.0f)).as("embedding"),
      col("label"))
    IndexBuild.append(spark, shifted, IndexBuild.load(spark, root))
    val r2 = spark.sql(
      "CALL lance_rx.system.reindex(table => 'db.vidx', threshold => 1.3)").collect().head
    assert(r2.getBoolean(2), s"shifted drift ${r2.getDouble(0)} did not trigger a rebuild")
    assert(r2.getDouble(0) > 1.3)
    assert(graft.sources.lance.ManifestIO.loadLatest(root, conf).get.version > versionBefore)
    // after the rebuild the error baseline is fresh: drift back to ~1...
    val r3 = spark.sql(
      "CALL lance_rx.system.reindex(table => 'db.vidx', threshold => 1.3)").collect().head
    assert(!r3.getBoolean(2) && r3.getDouble(0) < 1.3,
      s"post-rebuild drift ${r3.getDouble(0)} still above threshold")
    // ...and partial-probe recall for a SHIFTED query recovers: the fresh
    // centroids give the shifted region its own cells, so 4 of 16 probes
    // find what the full-probe (exact) search finds
    val rebuiltIdx = IndexBuild.load(spark, root)
    val qv = graft.operators.VectorIndex.embeddingOf(spark, sf, vecId = 1L)
      .map(_ * 4.0)
    def ids(nprobes: Int) = IndexBuild.search(spark, rebuiltIdx, qv,
        Map("vector.k" -> "5", "vector.nprobes" -> nprobes.toString))
      .collect().map(_.getLong(0)).toSet
    val exact = ids(16)
    val partial = ids(4)
    val recall = partial.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"post-rebuild partial-probe recall: $recall")
  }

  test("rebuild swaps data and sidecar ATOMICALLY via the epoch pointer; stale handles fail loudly") {
    import graft.operators.{IndexBuild, VectorSearch}
    import graft.sources.lance.ManifestIO
    val root = java.nio.file.Files.createTempDirectory("graft-epoch-").toString
    val e = Tables.t(spark, sf, "embeddings")
    val conf = org.apache.spark.sql.graft.Shim.hadoopConf(spark, Map.empty)
    val idx = IndexBuild.build(spark, e.filter(col("vec_id") < 300), root,
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "8"))
    // the sidecar pointer rides the DATA commit itself (same manifest):
    // whatever the crash point, readers resolve a consistent pair
    val m1 = ManifestIO.loadLatest(root, conf).get
    assert(idx.epoch.isDefined)
    assert(m1.props.get(IndexBuild.MetaProp) === idx.epoch)
    val rebuilt = IndexBuild.rebuild(spark, idx)
    val m2 = ManifestIO.loadLatest(root, conf).get
    assert(rebuilt.epoch.isDefined && rebuilt.epoch != idx.epoch)
    assert(m2.props.get(IndexBuild.MetaProp) === rebuilt.epoch)
    // load resolves the pointer, not a fixed path
    assert(IndexBuild.load(spark, root).epoch === rebuilt.epoch)
    // a handle that outlived the rebuild refuses to read: its centroids/
    // codebooks no longer match the table's cell/codes columns
    val ex = intercept[IllegalStateException] {
      VectorSearch.knnJoin(spark, e.filter(col("vec_id") < 5), idx, "vec_id",
        k = 3, metric = "l2", nprobes = 8, excludeSelf = true, cIdCol = "vec_id")
    }
    assert(ex.getMessage.contains("rebuilt"))
    // the fresh handle searches fine
    assert(VectorSearch.knnJoin(spark, e.filter(col("vec_id") < 5), rebuilt,
      "vec_id", k = 3, metric = "l2", nprobes = 8, excludeSelf = true,
      cIdCol = "vec_id").count() === 15)
  }

  test("CALL system.knn searches through a persisted index, equals the Scala API") {
    spark.conf.set("spark.sql.catalog.lance_knn",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = java.nio.file.Files.createTempDirectory("graft-knnproc-").toString
    spark.conf.set("spark.sql.catalog.lance_knn.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_knn.db")
    val e = Tables.t(spark, sf, "embeddings")
    // the index IS a lance dataset — building it under the warehouse makes
    // it a catalog table the procedure can resolve by name
    val idx = IndexBuild.build(spark, e, s"$wh/db/embidx",
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
    val qv = graft.operators.VectorIndex.embeddingOf(spark, sf, vecId = 1L)
    val lits = qv.map(d => s"${java.lang.Double.toString(d)}D").mkString(", ")
    val viaSql = spark.sql("CALL lance_knn.system.knn(table => 'db.embidx', " +
        s"query => array($lits), k => 5, nprobes => 16)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaApi = IndexBuild.search(spark, idx, qv,
      Map("vector.k" -> "5", "vector.nprobes" -> "16"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSql === viaApi)
    assert(viaSql.head._1 === 1L && viaSql.head._2 === 0.0) // self at distance 0
    // the reference's optional search filter (LanceVectorSearch.java:133):
    // candidates restrict BEFORE ranking (full probes -> exact filtered KNN)
    val filtered = spark.sql("CALL lance_knn.system.knn(table => 'db.embidx', " +
        s"query => array($lits), k => 5, nprobes => 16, filter => 'label = 3')")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val labels3 = e.filter(col("label") === 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(filtered.nonEmpty && filtered.forall(r => labels3.contains(r._1)))
    val viaApiF = IndexBuild.search(spark, idx, qv,
      Map("vector.k" -> "5", "vector.nprobes" -> "16"),
      pred = Some(col("label") === 3))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(filtered === viaApiF)
    // columns => carries matched-row columns along (the reference returns
    // the full row): label values match the table, vectors come back
    val withCols = spark.sql("CALL lance_knn.system.knn(table => 'db.embidx', " +
        s"query => array($lits), k => 5, nprobes => 16, " +
        "columns => 'label,embedding')").collect()
    assert(withCols.length === 5)
    assert(withCols.map(_.getLong(0)).toSeq === viaApi.map(_._1))
    val labelOf = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(withCols.forall(r => r.getInt(2) === labelOf(r.getLong(0))))
    assert(withCols.forall(r => r.getSeq[Float](3).nonEmpty))
  }

  test("knn matched-row lookup on an INT id column keeps fragment pruning (typed IN literals)") {
    // range-clustered INT-keyed table: the k-sized id lookup must scan only
    // the fragments covering those ids — the old cast("long")-then-IN
    // blocked V1 filter translation and full-scanned all 8
    val root = java.nio.file.Files.createTempDirectory("graft-knnlk-").toString
    spark.range(16000)
      .select(col("id").cast("int").as("key"), col("id").as("payload"))
      .repartitionByRange(8, col("id"))
      .write.format("lance").save(root)
    val lk = graft.sources.lance.LanceProcedures.knnLookup(
      spark.read.format("lance").load(root), "key", Seq(5L, 17L), Seq("payload"))
    val plan = lk.queryExecution.executedPlan.toString
    val mm = "fragments=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
    val (scanned, total) = (mm.group(1).toInt, mm.group(2).toInt)
    assert(total === 8 && scanned <= 1, s"INT id lookup scanned $scanned/$total fragments")
    assert(lk.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((5L, 5L), (17L, 17L)))
    // LONG ids keep the same pruning (the previously-working fast path)
    val lkLong = graft.sources.lance.LanceProcedures.knnLookup(
      spark.read.format("lance").load(root), "payload", Seq(5L, 17L), Seq("key"))
    val mm2 = "fragments=(\\d+)/(\\d+)".r
      .findFirstMatchIn(lkLong.queryExecution.executedPlan.toString).get
    assert(mm2.group(1).toInt <= 1, s"LONG id lookup scanned ${mm2.group(1)}/8")
  }

  test("CALL system.knn_join: materializes to a lance table, routes through the PQ index") {
    import graft.operators.{IndexBuild, VectorSearch}
    spark.conf.set("spark.sql.catalog.lance_kj",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = java.nio.file.Files.createTempDirectory("graft-kjproc-").toString
    spark.conf.set("spark.sql.catalog.lance_kj.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_kj.db")
    val e = Tables.t(spark, sf, "embeddings")
    // corpus = a PQ-indexed lance dataset under the warehouse (a catalog
    // table the procedure resolves by name); queries = a plain dataset
    val idx = IndexBuild.build(spark, e, s"$wh/db/corpus", Map(
      "index.type" -> "IVF_PQ", "index.num-partitions" -> "8",
      "index.num-sub-vectors" -> "8", "index.num-bits" -> "8"))
    val q = e.filter(col("vec_id") < 25)
    q.write.format("lance").save(s"$wh/db/q")
    val direct = spark.sql("CALL lance_kj.system.knn_join(queries => 'db.q', " +
        "corpus => 'db.corpus', k => 5, nprobes => 8, refine => 20, " +
        "exclude_self => true)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // refine > 0 on a PQ index routes through the ADC join (stored
    // centroids + codebooks, no retrain) — identical to the Scala API
    val viaApi = VectorSearch.knnJoinPq(spark, q, idx, "vec_id",
        k = 5, nprobes = 8, refine = 20, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(direct === viaApi)
    // output_table materializes the SAME rows to a lance table (one
    // distributed write, driver sees only the summary row)
    val summary = spark.sql("CALL lance_kj.system.knn_join(queries => 'db.q', " +
        "corpus => 'db.corpus', k => 5, nprobes => 8, refine => 20, " +
        "exclude_self => true, output_table => 'db.q_nn')").collect()
    assert(summary.length === 1)
    assert(summary.head.getString(0) === "db.q_nn")
    assert(summary.head.getLong(1) === direct.length.toLong)
    val materialized = spark.sql(
        "SELECT * FROM lance_kj.db.q_nn ORDER BY q_id, rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(materialized === direct)
    // corpus_id reaches the INDEXED paths too (both ADC and stored-vector):
    // an indexed corpus whose id column is not 'vec_id' must not silently
    // fall back to a column that may not exist (r10 review)
    IndexBuild.build(spark,
      e.withColumnRenamed("vec_id", "id"), s"$wh/db/corpus2", Map(
        "index.type" -> "IVF_PQ", "index.num-partitions" -> "8",
        "index.num-sub-vectors" -> "8", "index.num-bits" -> "8"))
    val renamed = spark.sql("CALL lance_kj.system.knn_join(queries => 'db.q', " +
        "corpus => 'db.corpus2', corpus_id => 'id', k => 5, nprobes => 8, " +
        "refine => 20, exclude_self => true)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(renamed === direct)
    val renamedVec = spark.sql("CALL lance_kj.system.knn_join(queries => 'db.q', " +
        "corpus => 'db.corpus2', corpus_id => 'id', k => 5, nprobes => 8, " +
        "exclude_self => true)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(renamedVec === direct)
  }

  test("knn join: partial probes keep high recall vs exact, plan is UDF-free in the row path") {
    import graft.operators.VectorSearch
    val e = Tables.t(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 50)
    val exact = VectorSearch.knnJoin(spark, q, e, "vec_id", "vec_id", "embedding",
        k = 10, cells = 16, nprobes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = VectorSearch.knnJoin(spark, q, e, "vec_id", "vec_id", "embedding",
        k = 10, cells = 16, nprobes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall at 8/16 probes: $recall") // near-random vecs: worst case
    // fewer probes → fewer candidate pairs, never more results than exact
    assert(approx.size <= exact.size)
    // the per-row path (probe selection, cell assign, distance) is codegen'd
    val plan = VectorSearch.knnJoin(spark, q, e, "vec_id", "vec_id", "embedding",
      k = 10, cells = 16, nprobes = 4).queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython"), plan)
    assert(plan.toLowerCase.contains("nearestcells"), plan)
    assert(plan.toLowerCase.contains("nearestcell"), plan)
  }

  test("knn join against a persisted index equals the ad-hoc join at full probes") {
    import graft.operators.{IndexBuild, VectorSearch}
    val base = java.nio.file.Files.createTempDirectory("graft-kjidx-").toString
    val e = Tables.t(spark, sf, "embeddings")
    val idx = IndexBuild.build(spark, e, base,
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
    val q = e.filter(col("vec_id") < 30)
    val viaIdx = VectorSearch.knnJoin(spark, q, idx, "vec_id",
        k = 5, metric = "l2", nprobes = 16, excludeSelf = false, cIdCol = "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // exact brute top-k (self included — index join doesn't exclude)
    val brute = VectorSearch.knnJoin(spark, q, e, "vec_id", "vec_id", "embedding",
        k = 5, metric = "l2", cells = 0, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaIdx === brute)
    // and the probed-cell scan prunes index fragments at partial probes
    val plan = VectorSearch.knnJoin(spark, q.limit(1), idx, "vec_id",
      k = 5, metric = "l2", nprobes = 2, excludeSelf = false, cIdCol = "vec_id")
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("nearestcells"), plan)
  }

  test("ADC knn join: codes (not vectors) ride the cell join; exact at full probes with margin; recall at partial probes") {
    import graft.operators.{IndexBuild, VectorSearch}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val base = java.nio.file.Files.createTempDirectory("graft-kjpq-").toString
    val e = Tables.t(spark, sf, "embeddings")
    val idx = IndexBuild.build(spark, e, base, Map(
      "index.type" -> "IVF_PQ", "index.num-partitions" -> "8",
      "index.num-sub-vectors" -> "8", "index.num-bits" -> "8"))
    val q = e.filter(col("vec_id") < 30)
    val adc = VectorSearch.knnJoinPq(spark, q, idx, "vec_id",
      k = 5, nprobes = 8, refine = 20)
    // plan: the candidate (cell) join's corpus scan reads the M-int codes
    // and NOT the float vector column — the shuffle-byte cut the operator
    // exists for; vectors appear only in the k×refine re-rank scan
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Set[String]] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case other => other.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b.scan.readSchema().fieldNames.toSet)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
      }.flatten
    }
    val scans = allScans(adc.queryExecution.executedPlan)
    assert(scans.exists(s => s.contains("codes") && !s.contains("embedding")),
      s"no codes-only scan in: $scans")
    assert(scans.exists(s => s.contains("embedding") && !s.contains("codes")),
      s"no vector-only re-rank scan in: $scans")
    // and the per-query candidate window shuffles only (q_id, n_id, __adc):
    // hauling the float query vector per CANDIDATE row through that
    // exchange would give back the bytes the codes join saved (r10 review)
    val windows = adc.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty &&
      windows.forall(w => !w.child.output.exists(_.name == "__qv")),
      "query vector rides a window exchange")
    // full probes + generous refine == the exact vector join
    val exact = VectorSearch.knnJoin(spark, q, e, "vec_id", "vec_id", "embedding",
      k = 5, metric = "l2", cells = 8, nprobes = 8)
    val adcRows = adc.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exactRows = exact.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(adcRows === exactRows)
    // margin guard for the GATE configuration: the worst ADC rank of any
    // true top-5 neighbor must sit well inside the k×refine=100 candidate
    // budget, so the oracle key doesn't ride a knife's edge
    val pq = idx.pq.get
    val c = spark.read.format("lance").load(base)
      .select(col("vec_id").as("n_id"), col("codes"))
    val ranked = q.select(col("vec_id").as("q_id"), col("embedding").as("__qv"))
      .crossJoin(c).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        graft.functions.pq_adc_pair(col("codes"), col("__qv"),
          pq.flat, pq.m, pq.codes, pq.subDim).as("__adc"))
      .withColumn("__ark", row_number()
        .over(Window.partitionBy("q_id").orderBy(col("__adc").asc, col("n_id").asc)))
    import spark.implicits._
    val trueTop = exactRows.map(r => (r._1, r._2)).toDF("q_id", "n_id")
    val worst = ranked.join(trueTop, Seq("q_id", "n_id"))
      .agg(org.apache.spark.sql.functions.max("__ark")).first().getInt(0)
    assert(worst <= 50, s"ADC rank margin too thin: worst true-top-5 rank $worst of 100")
    // partial probes + tight refine: the approximate scale path keeps recall
    val approx = VectorSearch.knnJoinPq(spark, q, idx, "vec_id",
        k = 5, nprobes = 4, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exactRows.map(r => (r._1, r._2)).toSet
    val recall = approx.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"recall at 4/8 probes, refine 4: $recall")
  }

  test("centroid graph at 256 nodes: full-ef equals exact; partial ef has high recall") {
    import org.apache.spark.ml.linalg.Vectors
    val rnd = new scala.util.Random(7) // fixed seed → deterministic
    val cents = Array.fill(256)(Vectors.dense(Array.fill(16)(rnd.nextDouble())))
    val g = CentroidGraph.build(spark, cents, m = 8, efConstruction = 32)
    val q = Array.fill(16)(rnd.nextDouble())
    val exact = VectorIndex.selectProbesExact(cents, q, 8).toSeq
    assert(g.probe(q, 8, ef = 256).toSeq === exact)
    val partial = g.probe(q, 8, ef = 32).toSeq
    assert(partial.intersect(exact).size >= 5,
      s"recall too low: $partial vs $exact")
  }

  test("distributed edge build at 4096 nodes: full-ef equals exact; partial ef has recall") {
    import org.apache.spark.ml.linalg.Vectors
    val rnd = new scala.util.Random(11) // fixed seed → deterministic
    val n = 4096 // above LocalBuildThreshold → the Spark blocked build path
    val cents = Array.fill(n)(Vectors.dense(Array.fill(8)(rnd.nextDouble())))
    val g = CentroidGraph.build(spark, cents, m = 12, efConstruction = 48)
    val q = Array.fill(8)(rnd.nextDouble())
    val exact = VectorIndex.selectProbesExact(cents, q, 10).toSeq
    // ring edges keep L0 connected → full ef visits every node
    assert(g.probe(q, 10, ef = n).toSeq === exact)
    val partial = g.probe(q, 10, ef = 128).toSeq
    assert(partial.intersect(exact).size >= 7,
      s"recall too low: $partial vs $exact")
  }

  test("index.max-level: layered graph stacks 1/4-subsampled levels at reference parity") {
    import org.apache.spark.ml.linalg.Vectors
    val rnd = new scala.util.Random(13)
    val n = 4096
    val cents = Array.fill(n)(Vectors.dense(Array.fill(8)(rnd.nextDouble())))
    val flat = CentroidGraph.build(spark, cents, m = 12, efConstruction = 48, maxLevel = 1)
    val multi = CentroidGraph.build(spark, cents, m = 12, efConstruction = 48, maxLevel = 7)
    assert(multi.layers.size > 1, "maxLevel=7 at 4096 nodes must stack layers")
    // upper layers shrink ~4x per level (deterministic hash levels, so the
    // build is bit-reproducible — no RNG)
    val sizes = multi.layers.map(_.members.length)
    assert(sizes.head === n)
    sizes.sliding(2).foreach { case Seq(a, b) =>
      assert(b < a, s"layer sizes must shrink: $sizes")
    }
    assert(multi.layers(1).members.length < n / 2)

    // MEASURED TRADEOFF (kept honest): at equal ef the L0 ef-search cost is
    // budget-dominated, and the flat graph's ring edge already provides
    // NSW-style long-range shortcuts — so the layered descent buys equal
    // recall with only a small bounded eval overhead (~1-3% at 4k-32k
    // cells), not a saving. The layers exist for reference parity
    // (index.max-level, default 7) and for the >100k-cell regime where the
    // descent replaces a long cold-start traversal.
    val queries = (0 until 20).map(_ => Array.fill(8)(rnd.nextDouble()))
    var evalsFlat = 0L; var evalsMulti = 0L
    var recallFlat = 0; var recallMulti = 0
    queries.foreach { q =>
      val exact = VectorIndex.selectProbesExact(cents, q, 10).toSeq
      val (pf, e1) = flat.probeWithStats(q, 10, 96)
      val (pm, e2) = multi.probeWithStats(q, 10, 96)
      evalsFlat += e1; evalsMulti += e2
      recallFlat += pf.toSeq.intersect(exact).size
      recallMulti += pm.toSeq.intersect(exact).size
    }
    assert(recallMulti >= recallFlat - 2,
      s"multi-level recall $recallMulti vs flat $recallFlat")
    assert(evalsMulti <= (evalsFlat * 1.1).toLong,
      s"descent overhead must stay bounded: $evalsMulti vs $evalsFlat")
    // option surface parses the reference name with the reference default
    val io = graft.sources.lance.LanceVectorOptions.index(
      Map("index.max-level" -> "3", "index.type" -> "IVF_HNSW"))
    assert(io.maxLevel === 3)
    assert(graft.sources.lance.LanceVectorOptions.index(Map.empty).maxLevel === 7)
  }

  test("emb_binarize halves reassemble to the native packed word; knn_hamming == builtin formulation") {
    import org.apache.spark.sql.functions._
    // the gated key's two 32-bit halves (SQL-oracle-safe) must reassemble
    // bit-for-bit into the scale path's single 64-bit packed word
    val gated = SparkEntry.queries("emb_binarize")(spark, sf)
      .select(col("vec_id"),
        (shiftleft(col("word_hi"), 32).bitwiseOR(col("word_lo"))).as("word"))
    val native = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        graft.functions.bit_pack_sign(col("embedding")).getItem(0).as("word"))
    assert(gated.exceptAll(native).isEmpty && native.exceptAll(gated).isEmpty,
      "two-half packing diverged from the native 64-bit packing")

    // knn_hamming (native popcount path) == the same query expressed with
    // builtin zip_with/aggregate sign-mismatch counting
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qv = e.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
    val builtin = e.filter(col("vec_id") =!= 0L).crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"),
        aggregate(zip_with(col("embedding"), col("qv"),
          (x, y) => when((x.cast("double") > 0.0d) =!= (y.cast("double") > 0.0d), 1L)
            .otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("score"))
      .orderBy(col("score").asc, col("vec_id").asc).limit(10)
    val nativeKnn = SparkEntry.queries("knn_hamming")(spark, sf)
    assert(nativeKnn.collect().toSeq === builtin.collect().toSeq)
    // the scan stays codegen'd — the hamming probe is not a UDF
    val plan = nativeKnn.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"hamming path fell out of codegen:\n$plan")
  }

  test("knn_hamming_rerank: full shortlist == exact KNN; gate shortlist recall >= 0.8") {
    val exact = SparkEntry.queries("knn_cosine")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // shortlist >= corpus ⇒ phase 2 sees every vector ⇒ provably exact
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet").count().toInt
    val full = graft.operators.VectorSearch.knnHammingRerankAt(spark, sf, corpus)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(full === exact)
    // the gate's 100-candidate shortlist keeps most of the exact top-10
    val short = SparkEntry.queries("knn_hamming_rerank")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val recall = short.intersect(exact.map(_._1).toSet).size / 10.0
    assert(recall >= 0.8, s"1-bit shortlist recall $recall")
  }

  test("knn_join_hamming: full shortlist == the exact knn join; gate shortlist recall >= 0.8") {
    import graft.operators.VectorSearch
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 20)
    val exact = VectorSearch.knnJoin(spark, queries, e,
        "vec_id", "vec_id", "embedding", k = 5, metric = "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // shortlist >= corpus ⇒ phase 2 re-ranks every candidate ⇒ exact
    val corpus = e.count().toInt
    val full = VectorSearch.knnJoinHamming(spark, queries, e,
        "vec_id", "vec_id", "embedding", k = 5, shortlist = corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(full === exact)
    // gate form: per-query recall of the 50-candidate 1-bit shortlist
    val shortRows = SparkEntry.queries("knn_join_hamming")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val exactByQ = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = shortRows.groupBy(_._1).map { case (q, g) =>
      g.map(_._2).toSet.intersect(exactByQ(q)).size / 5.0
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.8, s"mean shortlist recall $meanRecall")
  }

  test("knn_negatives: every neighbor differs in label; plan keeps top-k partial + broadcast") {
    val df = SparkEntry.queries("knn_negatives")(spark, sf)
    val rows = df.collect()
    // per query: exactly NegK negatives, ranked 1..k, labels all differ
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (qId, g) =>
      assert(g.map(_.getLong(4)).sorted.toSeq === (1L to 5L))
      g.foreach { r =>
        assert(r.getInt(2) !== labels(qId), s"query $qId mined a same-label 'negative'")
        assert(r.getInt(2) === labels(r.getLong(1)))
      }
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not rewritten to a partial top-k before the shuffle:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query subset not broadcast:\n$plan")
  }

  test("q_stream_index: build-then-append across micro-batches == exact KNN") {
    // the embedding stream arrives as 4 files at maxFilesPerTrigger=1, so
    // the first batch TRAINS and the other three APPEND against frozen
    // centroids — equality with the single-shot full-probe result proves
    // the incremental path assigns/commits correctly
    val streamed = SparkEntry.queries("q_stream_index")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val batch = SparkEntry.queries("ivf_flat_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("knnNegativesMined: ANN-routed mining matches exact at full probes, recall at partial") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = e.filter(col("vec_id") % 50 === 0)
    val exact = SparkEntry.queries("knn_negatives")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // full probes + 4x oversampling: every query's 5 nearest negatives sit
    // inside its top-20 overall here, so the mined set is EXACTLY the
    // window form's answer
    val full = operators.VectorSearch.knnNegativesMined(spark, qs, e,
      k = 5, over = 4, cells = 8, nprobes = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact)
    // partial probes keep high recall (cell-blocked candidates only)
    val partial = operators.VectorSearch.knnNegativesMined(spark, qs, e,
      k = 5, over = 4, cells = 8, nprobes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = partial.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"partial-probe mining recall $recall < 0.8")
  }

  test("knnNegativesMinedPq: ADC-routed mining recall vs the exact window form") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = e.filter(col("vec_id") % 50 === 0)
    val root = java.nio.file.Files.createTempDirectory("graft-negpq-").toString
    val idx = operators.IndexBuild.build(spark, e, root, Map(
      "index.type" -> "IVF_PQ", "index.num-partitions" -> "8"))
    val exact = SparkEntry.queries("knn_negatives")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mined = operators.VectorSearch.knnNegativesMinedPq(spark, qs,
      operators.IndexBuild.load(spark, root), e.select("vec_id", "label"),
      k = 5, over = 4, nprobes = 8, refine = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = mined.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"ADC mining recall $recall < 0.8")
  }

  test("index search survives compaction: sidecar persists, partial-probe results unchanged") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-idx-compact-").toString
    val idx = operators.IndexBuild.build(spark,
      e.filter(col("vec_id") % 5 =!= 0), root, Map(
        "index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
    operators.IndexBuild.append(spark, e.filter(col("vec_id") % 5 === 0), idx)
    val qv = operators.VectorIndex.embeddingOf(spark, sf, 1L)
    def searchAt(np: Int) = operators.IndexBuild.search(spark,
      operators.IndexBuild.load(spark, root), qv,
      Map("vector.nprobes" -> np.toString, "vector.k" -> "15"),
      excludeVecId = 1L).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val beforePartial = searchAt(4); val beforeFull = searchAt(16)
    // force-merge every fragment: the cell filter's semantics must not
    // depend on the fragment layout, and the sidecar pointer must ride
    // the compaction commit (IndexBuild.load re-resolves it)
    graft.sources.lance.LanceMaintenance.compact(spark, root,
      smallerThanRows = Long.MaxValue, targetRows = Long.MaxValue)
    assert(searchAt(4) === beforePartial)
    assert(searchAt(16) === beforeFull)
  }

  test("q_stream_index_once: exactly-once sink appends == exact KNN") {
    // cell assignment is a streaming projection over frozen centroids and
    // the append rides the lance StreamingWrite (epoch-tagged commits +
    // per-micro-batch cluster-by ordering) — no foreachBatch anywhere
    val streamed = SparkEntry.queries("q_stream_index_once")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val batch = SparkEntry.queries("ivf_flat_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("q_stream_index_pq: streamed PQ appends == batch-append twin; crash-replayed epoch is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(s"graft-$p-").toString
    val e = Tables.t(spark, sf, "embeddings")
    val seed = e.filter(col("vec_id") % 4 === 0)
    val rest = e.filter(col("vec_id") % 4 =!= 0)
    val opts = Map("index.type" -> "IVF_PQ",
      // 4-bit codes: the seed subset is smaller than 256 (KMeans caps
      // centers at the sample size)
      "index.num-bits" -> "4",
      "index.num-partitions" -> VectorIndex.Cells.toString)

    // twin seed builds: KMeans/PQ training is seeded (42) over the same
    // sample, so both indexes carry bit-identical centroids + codebooks
    val rootS = tmp("spq-stream") + "/t"; val rootB = tmp("spq-batch") + "/t"
    val idxS = IndexBuild.build(spark, seed, rootS, opts)
    val idxB = IndexBuild.build(spark, seed, rootB, opts)
    assert(idxS.pq.get.flat.toSeq === idxB.pq.get.flat.toSeq)

    // stream `rest` into rootS: frozen-literal NearestCell + PqEncode
    // projection, exactly-once lance StreamingWrite, cell-clustered
    val srcDir = tmp("spq-src"); val ckpt = tmp("spq-ckpt")
    rest.repartition(3).write.mode("overwrite").parquet(srcDir)
    val flat = idxS.centroids.flatMap(_.toArray)
    val dim = flat.length / idxS.centroids.length
    val p = idxS.pq.get
    def startStream() = spark.readStream.schema(rest.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withColumn("cell", graft.functions.nearest_cell(
        col("embedding"), flat, idxS.centroids.length, dim))
      .withColumn("codes", graft.functions.pq_encode(
        col("embedding"), p.flat, p.m, p.codes, p.subDim))
      .writeStream.format("lance")
      .option("checkpointLocation", ckpt)
      .option("write.cluster-by", "cell")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start(rootS)
    val q = startStream()
    assert(q.awaitTermination(120000))

    // batch-append the same rows into rootB with the stored codebooks
    IndexBuild.append(spark, rest, idxB)

    // identical codes → identical ADC search, spec'd at partial probes
    // (pruning exercised) and with refine re-rank
    val qv = VectorIndex.embeddingOf(spark, sf, VectorIndex.QueryVecId)
    val searchOpts = Map("vector.nprobes" -> "8",
      "vector.k" -> "10", "vector.refine-factor" -> "4")
    def run(root: String) =
      IndexBuild.search(spark, IndexBuild.load(spark, root), qv, searchOpts,
        excludeVecId = VectorIndex.QueryVecId)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(run(rootS).nonEmpty)
    assert(run(rootS) === run(rootB))

    // crash replay: drop the LAST epoch's checkpoint commit marker (crash
    // after sink commit, before checkpoint commit) and restart — Spark
    // re-runs that micro-batch, the sink's appId high-water map makes the
    // replay a no-op, and the table is unchanged
    val conf = spark.sessionState.newHadoopConf()
    val mBefore = graft.sources.lance.ManifestIO.loadLatest(rootS, conf).get
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParentFile, s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete()) // local-fs checksum shadow
    // the terminated query deregisters from the manager asynchronously;
    // restarting on the same checkpoint before that trips the
    // concurrent-use guard
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spark.streams.active.exists(_.id == q.id) && System.nanoTime() < deadline)
      Thread.sleep(100)
    val q2 = startStream()
    assert(q2.awaitTermination(120000))
    val mAfter = graft.sources.lance.ManifestIO.loadLatest(rootS, conf).get
    assert(mAfter.totalRows === mBefore.totalRows,
      s"replayed epoch duplicated rows: ${mBefore.totalRows} -> ${mAfter.totalRows}")
    assert(run(rootS) === run(rootB))
  }

  test("refine-factor re-rank: recall >= plain PQ against the true top-10") {
    val truth = SparkEntry.queries("ivf_flat_search")(spark, sf)
      .limit(10).collect().map(_.getLong(0)).toSet
    val plain = SparkEntry.queries("ivf_pq_search")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val refined = SparkEntry.queries("ivf_pq_refine")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(refined.size === 10)
    val rPlain = plain.intersect(truth).size
    val rRef = refined.intersect(truth).size
    assert(rRef >= rPlain, s"refine recall $rRef < plain $rPlain")
  }

  test("emb_project: JL sign projection preserves pairwise geometry; map-only plan") {
    import org.apache.spark.sql.functions._
    // reshape long form back to vectors
    val proj = SparkEntry.queries("emb_project")(spark, sf)
      .groupBy("vec_id").agg(map_from_arrays(collect_list("dim"), collect_list("value")).as("m"))
      .select(col("vec_id"), expr("transform(sequence(0, 15), j -> m[CAST(j AS BIGINT)])").as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val orig = Tables.t(spark, sf, "embeddings")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(proj.size === orig.size)
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // JL with k=16: E[|y_a - y_b|²] = |x_a - x_b|² (the 1/√k scale makes
    // the estimator unbiased); check the MEAN ratio over sampled pairs is
    // near 1 and individual ratios are within the coarse k=16 envelope
    val ids = orig.keys.toArray.sorted.take(60)
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      da = d2(orig(ids(i)), orig(ids(j))) if da > 1e-12
    } yield d2(proj(ids(i)), proj(ids(j))) / da
    val mean = ratios.sum / ratios.length
    assert(mean > 0.8 && mean < 1.2, s"mean distance ratio $mean")
    assert(ratios.count(r => r > 0.2 && r < 3.0).toDouble / ratios.length > 0.95,
      "too many pairs outside the k=16 JL envelope")
    // pure map stage: the REAL query's plan holds no Exchange other than
    // the presentation orderBy's range partitioning — projection + explode
    // never shuffle the vectors
    val plan = SparkEntry.queries("emb_project")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).toList
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"non-sort Exchange in emb_project's plan: $exchanges\n$plan")
    assert(exchanges.size <= 1, s"multiple Exchanges: $exchanges\n$plan")
  }

  test("SQ8: roundtrip error bounded by half a step; ADC == driver-recomputed distance; refine == exact") {
    val idx = built("IVF_SQ")
    val (mins, scales) = (idx.sq.get.mins, idx.sq.get.scales)
    val encoded = spark.read.format("lance").load(idx.root).select("vec_id", "embedding", "scodes")
    val rows = encoded.limit(50).collect()
    // per-coordinate dequantization error <= scale/2 (+ double eps): the
    // affine code covers the trained envelope, rint picks the nearer step
    rows.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val codes = r.getAs[Array[Byte]](2)
      v.indices.foreach { d =>
        val deq = mins(d) + (codes(d) & 0xFF).toDouble * scales(d)
        if (scales(d) > 0)
          assert(math.abs(deq - v(d)) <= scales(d) / 2 + 1e-9,
            s"dim $d: |$deq - ${v(d)}| > ${scales(d) / 2}")
        else assert(deq === mins(d))
      }
    }
    // the codegen'd ADC equals the driver-side dequantized L2^2
    val qv = operators.VectorIndex.embeddingOf(spark, sf, 1L)
    val qm = Array.tabulate(qv.length)(d => qv(d) - mins(d))
    val adc = encoded.limit(50)
      .select(col("vec_id"), col("scodes"),
        graft.functions.sq_adc(col("scodes"), qm, scales).as("adc"))
      .collect()
    adc.foreach { r =>
      val codes = r.getAs[Array[Byte]](1)
      val expect = codes.indices.map { d =>
        val diff = qm(d) - (codes(d) & 0xFF).toDouble * scales(d)
        diff * diff
      }.sum
      assert(math.abs(r.getDouble(2) - expect) <= 1e-9 * math.max(1.0, expect))
    }
    // generous refine reproduces exact KNN (the full-oracle claim, locally)
    val sq = SparkEntry.queries("ivf_sq_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") =!= 1L)
      .crossJoin(broadcast(spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(col("vec_id") === 1L).select(col("embedding").as("qv"))))
      .select(col("vec_id"),
        round(graft.functions.vec_l2(col("embedding"), col("qv")), 6).as("dist"))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(15).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sq === exact)
  }

  test("IVF_SQ persisted index: sidecar roundtrip, append re-encodes frozen quantizer, ADC-only path") {
    import org.apache.spark.sql.functions.{col => c}
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft-ivfsq-spec-").toString
    val built = operators.IndexBuild.build(spark, e.filter(c("vec_id") % 5 =!= 0), root,
      Map("index.type" -> "IVF_SQ", "index.num-partitions" -> "8"))
    // sidecar roundtrip: a fresh load carries the identical quantizer
    val loaded = operators.IndexBuild.load(spark, root)
    assert(loaded.sq.isDefined)
    assert(loaded.sq.get.mins.toSeq === built.sq.get.mins.toSeq)
    assert(loaded.sq.get.scales.toSeq === built.sq.get.scales.toSeq)
    // append re-encodes against the FROZEN quantizer: scodes present and
    // non-null on every appended row
    operators.IndexBuild.append(spark, e.filter(c("vec_id") % 5 === 0), loaded)
    val stored = spark.read.format("lance").load(root)
    assert(stored.count() === e.count())
    assert(stored.filter(c("scodes").isNull).count() === 0)
    // full probes + refine == exact KNN over the whole corpus (appended
    // rows are first-class)
    val qv = operators.VectorIndex.embeddingOf(spark, sf, 1L)
    val got = operators.IndexBuild.search(spark, loaded, qv,
      Map("vector.nprobes" -> "8", "vector.k" -> "10", "vector.refine-factor" -> "4"),
      excludeVecId = 1L).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(c("vec_id") =!= 1L)
      .crossJoin(broadcast(spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(c("vec_id") === 1L).select(c("embedding").as("qv"))))
      .select(c("vec_id"),
        round(graft.functions.vec_l2(c("embedding"), c("qv")), 6).as("dist"))
      .orderBy(c("dist").asc, c("vec_id").asc).limit(10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === exact)
    // ADC-only (no refine) still returns k rows and ranks approximately:
    // the true nearest must land in the ADC top-k at 8-bit precision
    val adcOnly = operators.IndexBuild.search(spark, loaded, qv,
      Map("vector.nprobes" -> "8", "vector.k" -> "10"), excludeVecId = 1L)
      .collect().map(_.getLong(0)).toSeq
    assert(adcOnly.size === 10)
    assert(adcOnly.contains(exact.head._1))
    // ADC reconstructs L2: a cosine query against a quantized index must
    // fail fast, not answer with silently-L2 ranking
    val err = intercept[IllegalArgumentException](operators.IndexBuild.search(
      spark, loaded, qv,
      Map("vector.nprobes" -> "8", "vector.k" -> "10", "vector.metric" -> "cosine"),
      excludeVecId = 1L))
    assert(err.getMessage.contains("IVF_FLAT"))
  }

  test("SQ8 refine: malformed rows (null ADC) are filtered, never sorted first into the answer") {
    // Spark ASC is NULLS FIRST: an unfiltered null adc_dist would evict
    // true neighbors from the candidate set and ride the null dist into
    // the top-k. A ragged row must simply vanish from the result.
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqnull-").toString
    import spark.implicits._
    val rows = (0L to 20L).map(i => (i, Array(i.toFloat, (i % 5).toFloat, 1f, 0f), 0))
    val idx = IndexBuild.build(spark, rows.toDF("vec_id", "embedding", "label"), tmp,
      Map("index.type" -> "IVF_SQ", "index.num-partitions" -> "2"))
    val ragged = Seq((99L, Array(0.5f, 0.5f), 0)).toDF("vec_id", "embedding", "label")
    // an append assigns the ragged row (2 dims vs 4) a null cell and null codes...
    IndexBuild.append(spark, ragged, idx)
    // ...and a row written into a probed cell by hand keeps its null codes
    // in the scan, so its ADC score is null
    ragged.withColumn("cell", lit(0)).withColumn("scodes", lit(null).cast("binary"))
      .write.format("lance").mode("append").save(tmp)
    val stored = spark.read.format("lance").load(tmp)
    assert(stored.filter(col("vec_id") === 99L && col("cell") === 0).count() === 1)
    val qv = Array(1.0, 1.0, 1.0, 0.0)
    val got = IndexBuild.search(spark, IndexBuild.load(spark, tmp), qv,
      Map("vector.nprobes" -> "2", "vector.k" -> "5", "vector.refine-factor" -> "2"))
      .collect().map(_.getLong(0)).toSeq
    assert(!got.contains(99L), s"malformed row surfaced in the top-k: $got")
    assert(got.size === 5)
  }

  test("contamination_semantic: scale-invariant cosine flags, per-vector match counts") {
    // bench = vec_id % 20 == 0: b1=(1,0,0,0), b2=(0,1,0,0)
    // corpus: exact copy (cos 1), SCALED copy (cos 1 — cosine is gain-
    // invariant), orthogonal (excluded), near-b1 (matches b1 only), and a
    // diagonal matching BOTH benches at cos 1/sqrt(2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-semcon-").toString
    import spark.implicits._
    Seq(
      (20L, Array(1f, 0f, 0f, 0f), 0),
      (40L, Array(0f, 1f, 0f, 0f), 0),
      (1L, Array(1f, 0f, 0f, 0f), 1),
      (2L, Array(2f, 0f, 0f, 0f), 1),
      (3L, Array(0f, 0f, 1f, 0f), 1),
      (4L, Array(0.9f, 0.1f, 0f, 0f), 1),
      (5L, Array(1f, 1f, 0f, 0f), 1),
      (6L, Array(0f, 0f, 0f, 0f), 1)) // zero norm: NaN cosine, must drop
      .toDF("vec_id", "embedding", "label").write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val df = SparkEntry.queries("contamination_semantic")(spark, tmp)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSeq
    val c4 = BigDecimal(0.9 / math.sqrt(0.81 + 0.01))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val c5 = BigDecimal(1.0 / math.sqrt(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq(
      (1L, 1.0, 1L), (2L, 1.0, 1L), (4L, c4, 1L), (5L, c5, 2L)))
    // corpus side never shuffles before the tau filter: the bench side rides
    // a broadcast nested-loop join
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_stream_contamination_semantic: streamed quarantine == batch key row-for-row") {
    def rows(key: String) = SparkEntry.queries(key)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(rows("q_stream_contamination_semantic") === rows("contamination_semantic"))
  }

  test("two-phase semantic screen: prescreen recall-lossless on the fixture at tau=0.4; separates at production dims") {
    import spark.implicits._
    import graft.operators.VectorSearch
    // arm 1: FIXTURE LOSSLESSNESS — the sign-sketch prescreen + exact
    // refine produces the identical pair set as the exact single-phase
    // body over the real 64-dim corpus at the gate's tau (this is the
    // two-phase screen's "done" contract; the DuckDB oracle re-proves it
    // per round through contamination_semantic)
    val e = Tables.t(spark, sf, "embeddings")
    val bench = e.filter(col("vec_id") % 20 === 0).select(col("embedding").as("vb"))
    val corpus = e.filter(col("vec_id") % 20 =!= 0)
      .select("vec_id", "label", "embedding")
    def pairs(pre: Option[Boolean]) =
      VectorSearch.semanticMatches(corpus, bench, "embedding", 0.4, prescreen = pre)
        .select(col("vec_id"), round(col("cos"), 6).as("c"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val twoPhase = pairs(Some(true))
    assert(twoPhase.nonEmpty, "fixture screen found no matches — vacuous test")
    assert(twoPhase === pairs(Some(false)),
      "prescreen dropped a true match on the fixture")
    // the AUTO default at the 64-dim fixture: the per-row dimension gate
    // (64 < PrescreenMinDim) passes every row unconditionally — exact
    // semantics with zero admit-bound exposure (ADVICE r17 medium)
    assert(pairs(None) === twoPhase, "auto mode diverged on the fixture")

    // arm 2: PRODUCTION-DIM BEHAVIOR at d=512 — the bound that is merely
    // permissive at 64 dims must (a) admit every planted pair whose exact
    // cosine clears tau and (b) reject the bulk of unrelated pairs, which
    // is the entire point of paying the XOR/popcount pass
    val d = 512
    val rnd = new scala.util.Random(20260815L)
    def gauss() = Array.fill(d)(rnd.nextGaussian().toFloat)
    val benchVecs = Seq.fill(8)(gauss())
    // planted: b + s*g sweeps exact cosine through ~[0.45, 0.96]
    val planted = for {
      (b, bi) <- benchVecs.zipWithIndex; s <- Seq(0.3, 0.8, 1.3, 1.9)
    } yield {
      val g = gauss()
      (bi.toLong, b.indices.map(i => b(i) + s.toFloat * g(i)).toArray)
    }
    val unrelated = (0 until 400).map(i => (100L + i, gauss()))
    val corpusBig = (planted ++ unrelated).toDF("vec_id", "embedding")
    val benchBig = benchVecs.map(Tuple1(_)).toDF("vb")
    val tau = 0.4
    val exactBig = VectorSearch
      .semanticMatches(corpusBig, benchBig, "embedding", tau, prescreen = Some(false))
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val twoBig = VectorSearch
      .semanticMatches(corpusBig, benchBig, "embedding", tau, prescreen = Some(true))
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(exactBig.nonEmpty, "no planted pair cleared tau — fixture broken")
    assert(twoBig === exactBig,
      s"prescreen lost ${(exactBig -- twoBig).size} of ${exactBig.size} true matches at d=$d")
    // the AUTO default at d=512 >= PrescreenMinDim must ARM the screen
    // (same answer by the refine) — the dimension gate is row-level, so
    // production dims get the two-phase plan without a flag
    val autoBig = VectorSearch
      .semanticMatches(corpusBig, benchBig, "embedding", tau)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(autoBig === exactBig, "auto mode diverged at production dims")
    // (b) the prescreen alone rejects >90% of unrelated pairs at d=512
    // (bound 4.2 sigma below the random-pair hamming mean; the fixture's
    // 64-dim bound admits nearly everything BY DESIGN — conservatism)
    val hb = VectorSearch.prescreenBound(d, tau)
    val unrelDf = unrelated.toDF("vec_id", "embedding")
    val admitted = unrelDf
      .withColumn("sig", graft.functions.bit_pack_sign(col("embedding")))
      .crossJoin(broadcast(benchBig
        .withColumn("bsig", graft.functions.bit_pack_sign(col("vb")))))
      .filter(graft.functions.hamming_dist(col("sig"), col("bsig")) <= hb)
      .count()
    val total = unrelated.size.toLong * benchVecs.size
    assert(admitted.toDouble / total < 0.10,
      s"prescreen admitted $admitted/$total unrelated pairs at d=$d (bound $hb)")
  }

  test("knn_maxsim: every top-k doc contains a query token exactly — the late-interaction property pooling can't give") {
    // by construction doc d's token set is {d, (d+131)%n, (d+263)%n}, so
    // exactly 9 docs contain one of query q's 3 tokens verbatim: those
    // docs get a max-cos of 1.0 on that token (plus ~|cos|≈0.12 noise on
    // the other two), every other doc pools pure noise — MaxSim must rank
    // only exact-containing docs into the top-5, each scoring ≈1+noise
    val n = Tables.t(spark, sf, "embeddings").count()
    val rows = SparkEntry.queries("knn_maxsim")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.length === 3 * operators.VectorSearch.MaxSimK)
    for ((q, doc, score, _) <- rows) {
      val qtoks = (0 until 3).map(j => 100 * q + j)
      val containing = qtoks.flatMap(t =>
        operators.VectorSearch.MaxSimDocOffsets.map(off => (t - off + n) % n)).toSet
      assert(containing.contains(doc),
        s"q=$q doc=$doc holds no query token yet ranked top-k (score=$score)")
      assert(score > 0.9,
        s"q=$q doc=$doc score=$score — the exact token match didn't dominate")
    }
    // plan: query tokens broadcast; BOTH aggregates partial (map-side
    // combine before their exchanges); per-query top-k is a k-heap
    val plan = SparkEntry.queries("knn_maxsim")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("partial_max")
      && plan.contains("partial_sum") && plan.contains("WindowGroupLimit"),
      s"maxsim plan lost its scale shape:\n$plan")
  }

  test("knn_mmr: greedy selection == an independent plain-Scala greedy; diversity beats plain top-k on a cloned cluster") {
    import org.apache.spark.sql.functions._
    import graft.operators.VectorSearch
    // 1) selection logic pinned independently on the REAL corpus: take the
    // micro-sims from a FRESH DataFrame derivation (vec_cosine is already
    // gated cross-engine) and run the greedy in plain Scala — none of
    // MmrSelect's code on this side
    val e = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    val excl = VectorSearch.MmrQueries.map(_._2)
    val sims = scala.collection.mutable.Map[(Long, Long, Long), Long]() // (q, a, b)
    val qsims = scala.collection.mutable.Map[(Long, Long), Long]()
    import spark.implicits._
    val qv = e.join(broadcast(VectorSearch.MmrQueries.toDF("query_id", "qvid")),
      col("vec_id") === col("qvid")).select(col("query_id"), col("embedding").as("qv"))
    e.filter(!col("vec_id").isin(excl: _*)).crossJoin(broadcast(qv))
      .select(col("query_id"), col("vec_id"),
        round(round(graft.functions.vec_cosine(col("embedding"), col("qv")), 6) * 1e6)
          .cast("long").as("m"))
      .collect().foreach(r => qsims((r.getLong(0), r.getLong(1))) = r.getLong(2))
    val expected = VectorSearch.MmrQueries.flatMap { case (q, _) =>
      val cand = qsims.collect { case ((`q`, d), m) => (d, m) }.toSeq
        .sortBy { case (d, m) => (-m, d) }.take(VectorSearch.MmrN)
      val candIds = cand.map(_._1)
      // pair sims for this query's candidates only, derived fresh
      val cvs = e.filter(col("vec_id").isin(candIds: _*)).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      def cosMicro(a: Long, b: Long): Long = {
        val (x, y) = (cvs(a), cvs(b))
        var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        while (i < x.length) {
          dot += x(i).toDouble * y(i).toDouble
          nx += x(i).toDouble * x(i).toDouble; ny += y(i).toDouble * y(i).toDouble
          i += 1
        }
        math.round(BigDecimal(dot / (math.sqrt(nx) * math.sqrt(ny)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
      }
      val sel = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      for (step <- 1 to VectorSearch.MmrK) {
        val pick = cand.filterNot(c => sel.exists(_._1 == c._1))
          .map { case (d, m) =>
            val mx = sel.map(s => cosMicro(d, s._1)).reduceOption(_ max _)
            (d, m, mx.fold(m)(m - _))
          }
          .minBy { case (d, _, mmr) => (-mmr, d) }
        sel += pick
      }
      sel.zipWithIndex.map { case ((d, m, mmr), i) => (q, d, (i + 1).toLong, m, mmr) }
    }
    val got = SparkEntry.queries("knn_mmr")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6), r.getLong(4))).toSeq
    assert(got === expected)

    // 2) the diversity property on an engineered corpus. NOTE the cluster
    // must not be parallel to the QUERY (then every candidate's redundancy
    // to a picked clone equals its own qsim and all margins tie at 0):
    // 5 IDENTICAL cluster docs (pairwise sim 1.0) and 3 diverse docs, all
    // at the same qsim 0.894 — plain top-k would take the whole cluster by
    // id order; after pick 1 a cluster doc's margin is 0.894 − 1.0 < 0
    // while a diverse doc's is 0.894 − 0.8 > 0, so MMR's picks 2-4 must be
    // exactly the diverse docs
    val tmp = java.nio.file.Files.createTempDirectory("graft-mmr-").toString
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = new Array[Float](8); parts.foreach { case (i, x) => a(i) = x }; a
    }
    val clones = (1L to 5L).map(i => (i, vec(0 -> 2f, 7 -> 1f)))
    val diverse = Seq(
      (6L, vec(0 -> 2f, 1 -> 1f)), (7L, vec(0 -> 2f, 2 -> 1f)),
      (8L, vec(0 -> 2f, 3 -> 1f)))
    // query 1's fixture vec_id 100 is the axis; 200/300 are dummies on
    // other axes
    val fix = clones ++ diverse ++ Seq(
      (100L, vec(0 -> 1f)), (200L, vec(5 -> 1f)), (300L, vec(6 -> 1f)))
    fix.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val picks = SparkEntry.queries("knn_mmr")(spark, tmp).collect()
      .filter(_.getLong(0) == 1L).sortBy(_.getLong(2))
      .map(_.getLong(1)).take(4).toSeq
    assert(picks.head === 1L, s"first pick must be plain argmax (id tiebreak): $picks")
    assert(picks.tail.toSet === Set(6L, 7L, 8L),
      s"MMR picks 2-4 must be the diverse docs, got $picks")

    // single-candidate regression: a query whose pool holds ONE doc has
    // no candidate pairs — it must still return that doc (the pair-agg
    // join is LEFT, not inner)
    val tmp1 = java.nio.file.Files.createTempDirectory("graft-mmr1-").toString
    Seq((1L, vec(0 -> 1f)),
      (100L, vec(0 -> 1f)), (200L, vec(5 -> 1f)), (300L, vec(6 -> 1f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp1/embeddings.parquet")
    val solo = SparkEntry.queries("knn_mmr")(spark, tmp1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(solo.toSeq === Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)),
      s"single-candidate queries dropped or misranked: ${solo.toSeq}")

    // 3) plan of the candidate stage (the corpus-sized part — the operator
    // materializes its N×|queries| output before the pair fan-out, which
    // truncates the final plan's lineage): query vecs broadcast, top-N as
    // a pre-shuffle k-heap
    val (queries, docs) = VectorSearch.mmrWorkload(Tables.t(spark, sf, "embeddings"))
    val plan = VectorSearch.mmrCandidates(spark, docs, queries, None)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"mmr candidate top-N not a k-heap:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query vectors not broadcast:\n$plan")
  }

  test("ivf_filtered_search: the label predicate reaches the index scan as a pushed filter") {
    // correctness is the full oracle's job (all-probe filtered == exact
    // brute-force under the predicate); what the spec pins is the SCALE
    // property — the payload predicate applies at the lance scan (fragment
    // stats + row filtering), not as a post-scan Spark filter over every
    // probed vector
    val key = VectorIndex.ivfKeys("ivf_filtered_search")
    val plan = VectorIndex.searchKeyPlan(spark, VectorIndex.buildKey(spark, sf, key), key,
      VectorIndex.embeddingOf(spark, sf, vecId = 1L)).queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(label,3)"),
      s"label predicate not pushed to the index scan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"filtered top-k not a k-heap:\n$plan")
  }

  test("q_stream_mmr: MMR served from the maintained vector store == batch knn_mmr row-for-row") {
    // the streamed key keeps the vector store fresh (exactly-once lance
    // appends) and serves the SAME workload through the batch key's
    // candidate scan and greedy tail verbatim — the store is append-only,
    // so streamed == batch is the whole statement
    val streamed = SparkEntry.queries("q_stream_mmr")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("knn_mmr")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("q_stream_maxsim: MaxSim served from the maintained token store == batch knn_maxsim row-for-row") {
    // the streamed key keeps the multi-vector token store fresh (stateless
    // per-row token derivation + exactly-once lance appends) and serves
    // the SAME workload from the standing table — the store is append-only
    // (token rows never update), so at stream end it equals the batch
    // derivation exactly and streamed == batch is the whole statement
    val streamed = SparkEntry.queries("q_stream_maxsim")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("knn_maxsim")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("prescreen bound: the scalar spec form and the screen's Column form agree over a d sweep") {
    import graft.operators.VectorSearch
    import spark.implicits._
    // the screen filters with prescreenBoundCol; the recall spec and
    // PrescreenCurve assert with prescreenBound — one drifting encoding
    // would silently desynchronize the spec from production (review r17)
    for (tau <- Seq(0.2, 0.4, 0.7)) {
      val ds = (1 to 4096).filter(d => d < 80 || d % 37 == 0)
      val colBounds = ds.toDF("d")
        .select(col("d"), VectorSearch.prescreenBoundCol(col("d"), tau).as("b"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      ds.foreach { d =>
        assert(colBounds(d) === VectorSearch.prescreenBound(d, tau),
          s"bound encodings disagree at d=$d tau=$tau")
      }
    }
  }

  test("CALL system.knn mode => 'mmr': equals the gated key at full probes, serves pruned at partial") {
    // VERDICT r19 item 1: the pruned serving machinery, SQL-reachable.
    // The CALL routes through the SAME entry points as the gated keys
    // (mmrCandidates -> probedSlice -> mmrServe), so at full
    // probes over an indexed store it must equal knn_mmr (== the
    // knn_mmr_indexed full-probe answer) ROW-FOR-ROW per query; the
    // fragment-prune plan assert for partial probes lives in
    // RetrievalPrunedSpec on the shared probedSlice path.
    import graft.operators.{IndexBuild, VectorSearch}
    spark.conf.set("spark.sql.catalog.lance_mmrp",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = java.nio.file.Files.createTempDirectory("graft-mmrproc-").toString
    spark.conf.set("spark.sql.catalog.lance_mmrp.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_mmrp.db")
    val e = Tables.t(spark, sf, "embeddings")
    val idx = IndexBuild.build(spark, e, s"$wh/db/mmridx",
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
    val cells = idx.centroids.length
    val gated = SparkEntry.queries("knn_mmr")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val excl = "filter => 'vec_id NOT IN (100, 200, 300)'"
    def call(qvid: Long, nprobes: Int): Seq[(Long, Long, Double, Long)] = {
      val lits = VectorIndex.embeddingOf(spark, sf, qvid)
        .map(d => s"${java.lang.Double.toString(d)}D").mkString(", ")
      spark.sql("CALL lance_mmrp.system.knn(table => 'db.mmridx', " +
          s"query => array($lits), mode => 'mmr', metric => 'cosine', " +
          s"k => 10, candidates => 40, nprobes => $nprobes, $excl)")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    }
    for ((q, qvid) <- VectorSearch.MmrQueries) {
      val got = call(qvid, nprobes = cells).map { case (id, rk, cos, mm) => (q, id, rk, cos, mm) }
      assert(got === gated.filter(_._1 == q).toSeq,
        s"mode => 'mmr' at full probes must equal the gated knn_mmr rows for query $q")
    }
    // the production config: partial probes trade recall for fragments
    // read — k picks still come back and hold the recall floor the
    // family's pruned spec established (>= 0.4 at half probes)
    val full1 = gated.filter(_._1 == 1L).map(_._2).toSet
    val pruned = call(100L, nprobes = cells / 2)
    assert(pruned.length === 10)
    val recall = pruned.map(_._1).count(full1.contains) / 10.0
    assert(recall >= 0.4, s"partial-probe MMR recall $recall below floor")
  }

  test("CALL system.knn mode => 'maxsim': equals the gated key at full probes, serves pruned at partial") {
    // Same posture for late-interaction retrieval: query_toks carries the
    // token SET, the table is the (doc_id, embedding) token store
    // cell-clustered by its index, and the CALL routes through
    // maxSimRank's probed slice — full probes == the gated knn_maxsim answer.
    import graft.operators.{IndexBuild, VectorSearch}
    spark.conf.set("spark.sql.catalog.lance_msp",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = java.nio.file.Files.createTempDirectory("graft-msproc-").toString
    spark.conf.set("spark.sql.catalog.lance_msp.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_msp.db")
    val e = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    val toks = VectorSearch.maxSimDocTokens(e, e.count())
    val idx = IndexBuild.build(spark, toks, s"$wh/db/tokidx",
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
    val cells = idx.centroids.length
    val gated = SparkEntry.queries("knn_maxsim")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    def call(q: Long, nprobes: Int): Seq[(Long, Double, Long)] = {
      val tokLits = (0 until 3).map { j =>
        "array(" + VectorIndex.embeddingOf(spark, sf, 100 * q + j)
          .map(d => s"${java.lang.Double.toString(d)}D").mkString(", ") + ")"
      }.mkString(", ")
      spark.sql("CALL lance_msp.system.knn(table => 'db.tokidx', " +
          s"mode => 'maxsim', metric => 'cosine', id_column => 'doc_id', " +
          s"k => 5, nprobes => $nprobes, query_toks => array($tokLits))")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    }
    for (q <- VectorSearch.MaxSimQueries) {
      val got = call(q, nprobes = cells).map { case (id, sc, rk) => (q, id, sc, rk) }
      assert(got === gated.filter(_._1 == q).toSeq,
        s"mode => 'maxsim' at full probes must equal the gated knn_maxsim rows for query $q")
    }
    val full1 = gated.filter(_._1 == 1L).map(_._2).toSet
    val pruned = call(1L, nprobes = cells / 2)
    assert(pruned.length === 5)
    val recall = pruned.map(_._1).count(full1.contains) / 5.0
    assert(recall >= 0.4, s"partial-probe MaxSim recall $recall below floor")
  }

  test("CALL system.hybrid: fused lexical+vector equals the gated key at full probes, serves pruned at partial") {
    // r20: the last serving mode of the retrieval family SQL-surfaced —
    // index-BM25 lexical arm (build-or-reuse, corpus-version-keyed) +
    // probe-pruned vector arm + the gated keys' RRF fuse verbatim. At
    // full probes over an indexed vector table the fused answer must
    // equal text_search_hybrid's rows per query (the lexical index path
    // is scan-identical by text_search_indexed's own gate).
    import graft.operators.{IndexBuild, TextAnalysis}
    spark.conf.set("spark.sql.catalog.lance_hyb",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = java.nio.file.Files.createTempDirectory("graft-hybproc-").toString
    spark.conf.set("spark.sql.catalog.lance_hyb.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_hyb.db")
    Tables.t(spark, sf, "documents").select("doc_id", "text")
      .write.format("lance").save(s"$wh/db/docs")
    val e = Tables.t(spark, sf, "embeddings")
    val idx = IndexBuild.build(spark, e, s"$wh/db/vecs",
      Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
    val cells = idx.centroids.length
    val gated = SparkEntry.queries("text_search_hybrid")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    def call(q: Long, nprobes: Int): Seq[(Long, Long, Double, Long)] = {
      val terms = TextAnalysis.Bm25Queries.filter(_._1 == q).map(_._2).mkString(" ")
      val vid = TextAnalysis.HybridQueryVecs.find(_._1 == q).get._2
      val lits = graft.operators.VectorIndex.embeddingOf(spark, sf, vid)
        .map(d => s"${java.lang.Double.toString(d)}D").mkString(", ")
      spark.sql("CALL lance_hyb.system.hybrid(table => 'db.docs', " +
          "vector_table => 'db.vecs', " +
          s"terms => '$terms', query_vec => array($lits), " +
          s"k => ${TextAnalysis.Bm25TopK}, nprobes => $nprobes)")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    }
    for (q <- Seq(1L, 2L, 3L)) {
      val got = call(q, nprobes = cells)
        .map { case (id, na, rrf, rk) => (q, id, na, rrf, rk) }
      assert(got === gated.filter(_._1 == q).toSeq,
        s"CALL system.hybrid at full probes must equal the gated rows for query $q")
    }
    // partial probes: the pruned production plan still fuses a full top-k
    // and keeps recall vs the exact answer
    val full1 = gated.filter(_._1 == 1L).map(_._2).toSet
    val pruned = call(1L, nprobes = cells / 2)
    assert(pruned.nonEmpty)
    val recall = pruned.map(_._1).count(full1.contains).toDouble / full1.size
    info(s"CALL hybrid recall at $cells/2 probes: $recall")
    assert(recall >= 0.4, s"partial-probe hybrid recall $recall below floor")
  }

  test("CALL system.knn modes carry matched-row columns (columns => ...) like topk") {
    // the k-sized matched-row lookup (columns =>) is mode-agnostic: the
    // id rides first in every mode's row, extras merge in rank order
    import graft.operators.{VectorIndex, VectorSearch}
    spark.conf.set("spark.sql.catalog.lance_mcol",
      classOf[graft.sources.lance.LanceCatalog].getName)
    val wh = java.nio.file.Files.createTempDirectory("graft-mcolproc-").toString
    spark.conf.set("spark.sql.catalog.lance_mcol.warehouse", wh)
    spark.sql("CREATE NAMESPACE lance_mcol.db")
    val e = Tables.t(spark, sf, "embeddings")
    e.write.format("lance").save(s"$wh/db/vecs") // un-indexed: exact brute path
    val qv = VectorIndex.embeddingOf(spark, sf, 100L)
    val lits = qv.map(d => s"${java.lang.Double.toString(d)}D").mkString(", ")
    val got = spark.sql("CALL lance_mcol.system.knn(table => 'db.vecs', " +
        s"query => array($lits), mode => 'mmr', metric => 'cosine', " +
        "k => 10, candidates => 40, columns => 'label', " +
        "filter => 'vec_id NOT IN (100, 200, 300)')").collect()
    assert(got.length === 10)
    // schema: id, rk, cos, mmr_micro, label
    val labelOf = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.forall(r => r.getInt(4) === labelOf(r.getLong(0))),
      "merged label must match the table row of each picked id")
    // and the picks equal the no-columns call's in the same order
    val bare = spark.sql("CALL lance_mcol.system.knn(table => 'db.vecs', " +
        s"query => array($lits), mode => 'mmr', metric => 'cosine', " +
        "k => 10, candidates => 40, " +
        "filter => 'vec_id NOT IN (100, 200, 300)')").collect()
    assert(got.map(_.getLong(0)).toSeq === bare.map(_.getLong(0)).toSeq)
    assert(VectorSearch.MmrQueries.nonEmpty) // fixture sanity anchor
  }
}
