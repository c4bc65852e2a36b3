package graft

import graft.operators.{IndexBuild, VectorIndex, VectorSearch, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Probe-pruned production serving for the r18 retrieval family (MMR,
  * MaxSim, hybrid vector arm): the gated keys run the pruned machinery at
  * FULL probes (provably exact — they carry the full oracles); this suite
  * pins the approximate scale path — partial probes keep recall above a
  * floor, and the probed-cell IN pushdown actually prunes index fragments
  * in the plan. */
class RetrievalPrunedSpec extends SparkSpec {

  private def fragPruned(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan.toString
    val m = "fragments=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no lance scan in plan:\n$plan")
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  private lazy val idx: IndexBuild.BuiltIndex = {
    val base = java.nio.file.Files.createTempDirectory("graft-rps-idx-").toString
    IndexBuild.build(spark, Tables.t(spark, sf, "embeddings"), base, Map(
      "index.type" -> "IVF_FLAT", "index.num-partitions" -> "16"))
  }
  private def idxStore: DataFrame = spark.read.format("lance")
    .options(IndexBuild.pinnedOptions(spark, idx)).load(idx.root)
    .select("vec_id", "embedding", "cell")
  private def idxCents: Array[Array[Double]] = idx.centroids.map(_.toArray)
  private def probe(nprobes: Int) = Some((idxCents, nprobes))

  test("mmr over the index: full probes equal the brute key; partial probes prune fragments and keep recall") {
    val exact = VectorSearch.mmrKey(spark, Tables.t(spark, sf, "embeddings"), None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val full = VectorSearch.mmrKey(spark, idxStore, probe(16))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(full.toSeq === exact.toSeq, "full-probe pruned serving must be exact")
    // the approximate scale path: selected sets per query keep recall
    val approx = VectorSearch.mmrKey(spark, idxStore, probe(8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val recall = approx.intersect(exactSet).size.toDouble / exactSet.size
    info(s"mmr recall at 8/16 probes: $recall")
    assert(recall >= 0.4, s"mmr recall at 8/16 probes: $recall")
    // and the probe union actually prunes fragments at low nprobes
    val (queries, docs) = VectorSearch.mmrWorkload(idxStore)
    val (kept, total) = fragPruned(
      VectorSearch.mmrCandidates(spark, docs, queries, probe(2)))
    assert(total > 1, s"store has $total fragment(s) — pruning unobservable")
    assert(kept < total, s"no fragment pruning: $kept/$total")
  }

  private lazy val tokenFixture: (String, Array[Array[Double]]) = {
    val e = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    val n = e.count()
    val toks = VectorSearch.maxSimDocTokens(e, n)
    val cents = VectorIndex.trainCentroids(toks, "embedding", 16)
    val root = java.nio.file.Files
      .createTempDirectory("graft-rps-tok-").toString + "/t"
    toks.withColumn("cell", graft.functions.nearest_cell(
        col("embedding"), cents.flatten, cents.length, cents.head.length))
      .write.format("lance")
      .option("write.cluster-by", "cell")
      .option("maxRowsPerFile", "128")
      .save(root)
    (root, cents)
  }
  private def qtoks: Seq[(Long, Long, Array[Float])] =
    VectorSearch.maxSimQueryToks(Tables.t(spark, sf, "embeddings"))

  test("maxsim over the clustered token store: full probes exact; partial probes prune and keep recall") {
    val (root, cents) = tokenFixture
    val store = spark.read.format("lance").load(root)
      .select("doc_id", "embedding", "cell")
    val e = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    val n = e.count()
    val exact = VectorSearch.maxSimRank(spark, VectorSearch.maxSimDocTokens(e, n), qtoks, None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val full = VectorSearch.maxSimRank(spark, store, qtoks, Some((cents, 16)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(full.toSeq === exact.toSeq, "full-probe pruned serving must be exact")
    val approx = VectorSearch.maxSimRank(spark, store, qtoks, Some((cents, 8)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val recall = approx.intersect(exactSet).size.toDouble / exactSet.size
    info(s"maxsim recall at 8/16 probes: $recall")
    assert(recall >= 0.4, s"maxsim recall at 8/16 probes: $recall")
    val (kept, total) = fragPruned(
      VectorSearch.maxSimRank(spark, store, qtoks, Some((cents, 1))))
    assert(total > 1, s"token store has $total fragment(s)")
    assert(kept < total, s"no fragment pruning: $kept/$total")
  }

  test("knn_maxsim_indexed gated key equals knn_maxsim row-for-row") {
    val exact = SparkEntry.queries("knn_maxsim")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val indexed = SparkEntry.queries("knn_maxsim_indexed")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(indexed.toSeq === exact.toSeq)
    assert(SparkEntry.oracleSql("knn_maxsim_indexed") ===
      SparkEntry.oracleSql("knn_maxsim"))
  }

  test("hybrid vector arm over the index: full probes exact; partial probes prune and keep recall") {
    val e = Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    val queries = TextAnalysis.hybridQueries(e)
    val exact = TextAnalysis.hybridVectorArm(spark, e, queries, None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val full = TextAnalysis.hybridVectorArm(spark, idxStore, queries, probe(16))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(full.toSeq === exact.toSeq, "full-probe pruned serving must be exact")
    val approx = TextAnalysis.hybridVectorArm(spark, idxStore, queries, probe(8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val recall = approx.intersect(exactSet).size.toDouble / exactSet.size
    info(s"hybrid vector-arm recall at 8/16 probes: $recall")
    assert(recall >= 0.4, s"hybrid vector-arm recall at 8/16 probes: $recall")
    val (kept, total) = fragPruned(
      TextAnalysis.hybridVectorArm(spark, idxStore, queries, probe(2)))
    assert(total > 1, s"store has $total fragment(s)")
    assert(kept < total, s"no fragment pruning: $kept/$total")
  }

  test("one probed slice: cell-IN probes appear only in probedSlice and IndexBuild.searchPlan") {
    // every served retrieval reads its candidates through one probed
    // slice and every index search through one probed base; a second
    // `cell IN` site or a *Pruned / *ForVecs twin forks the family again
    val probes = OperatorSources.sites("col(\"cell\").isin(").map(s => (s._1, s._2))
    assert(probes.toSet === Set(("VectorSearch.scala", "probedSlice"),
      ("IndexBuild.scala", "searchPlan")), probes.mkString("\n"))
    val twin = """\bdef \w+(Pruned|ForVecs)\b""".r.unanchored
    val twins = OperatorSources.sites("src/main/scala/graft/operators",
      line => twin.findFirstIn(line).isDefined)
    assert(twins.isEmpty, twins.mkString("\n"))
  }

  test("partial-probe gated keys (_p8): the benched production configs hold the recall floor") {
    // q_stream_{mmr,maxsim,hybrid}_pruned_p8 run the SAME machinery the
    // tests above pin, at nprobes = Cells/2, end-to-end through the
    // streaming ingest — the r20 bench arms. Rows-only gated (partial
    // probes are approximate by design): each must return the full
    // per-query row budget and keep recall vs its exact gated twin.
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mmrExact = pairs(SparkEntry.queries("knn_mmr")(spark, sf))
    val mmrP8 = pairs(SparkEntry.queries("q_stream_mmr_pruned_p8")(spark, sf))
    assert(mmrP8.size === mmrExact.size, "every query must still fill its k picks")
    val rMmr = mmrP8.intersect(mmrExact).size.toDouble / mmrExact.size
    info(s"q_stream_mmr_pruned_p8 recall: $rMmr")
    assert(rMmr >= 0.4, s"mmr _p8 recall $rMmr below floor")
    val msExact = pairs(SparkEntry.queries("knn_maxsim")(spark, sf))
    val msP8 = pairs(SparkEntry.queries("q_stream_maxsim_pruned_p8")(spark, sf))
    assert(msP8.size === msExact.size, "every query must still fill its k ranks")
    val rMs = msP8.intersect(msExact).size.toDouble / msExact.size
    info(s"q_stream_maxsim_pruned_p8 recall: $rMs")
    assert(rMs >= 0.4, s"maxsim _p8 recall $rMs below floor")
    val hyExact = pairs(SparkEntry.queries("text_search_hybrid")(spark, sf))
    val hyP8 = pairs(SparkEntry.queries("q_stream_hybrid_pruned_p8")(spark, sf))
    assert(hyP8.nonEmpty)
    val rHy = hyP8.intersect(hyExact).size.toDouble / hyExact.size
    info(s"q_stream_hybrid_pruned_p8 recall: $rHy")
    assert(rHy >= 0.4, s"hybrid _p8 recall $rHy below floor")
  }

  test("fixture memo: every fixture root is reaped at exit, and a deleted root is rebuilt") {
    import graft.operators.{Dedup, FixtureMemo, Multimodal, TextIndex}
    val roots = Map(
      "semidx" -> Dedup.trainedSemIndex(spark, sf).root,
      "tokstore" -> VectorSearch.persistedTokenStore(spark, sf)._1,
      "textidx" -> TextIndex.indexFor(spark, sf),
      "gvid" -> Multimodal.videoFixture(spark, sf),
      "aud" -> Multimodal.audioFixture(spark, sf),
      "img" -> Multimodal.imageFixture(spark, sf))
    for ((name, root) <- roots)
      assert(FixtureMemo.reaps(root), s"$name root $root is not deleted at exit")
    assert(!FixtureMemo.reaps(sf))
    // the memo: one build per (session, dir); a root deleted under it is
    // evicted on the next access and built again in a fresh temp dir
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val memo = new FixtureMemo[String]("spec", identity)
    def fixture(): String = memo(spark, sf) { tmp =>
      builds.incrementAndGet()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp, "t")).toString
    }
    val first = fixture()
    assert(fixture() === first)
    assert(builds.get === 1)
    assert(FixtureMemo.reaps(first))
    val dir = java.nio.file.Paths.get(first)
    java.nio.file.Files.delete(dir)
    val second = fixture()
    assert(builds.get === 2)
    assert(second !== first)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(second)))
    assert(FixtureMemo.reaps(second))
  }

  test("the streamed keys', lance keys' and index keys' temp roots are reaped at exit") {
    import graft.operators.{FixtureMemo, VectorIndex}
    import graft.sources.lance.LanceTable
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    def lanceRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case r: DataSourceV2Relation if r.table.isInstanceOf[LanceTable] =>
          r.table.asInstanceOf[LanceTable].root
      }
    val roots = Map(
      "LanceOps.tmp" -> lanceRoots(SparkEntry.queries("lance_roundtrip")(spark, sf)),
      "StreamingOps.tmp" -> lanceRoots(SparkEntry.queries("lance_stream_pipeline")(spark, sf)),
      "knn_join_pq's index" -> lanceRoots(SparkEntry.queries("knn_join_pq")(spark, sf)),
      "VectorIndex.buildKey" ->
        Seq(VectorIndex.buildKey(spark, sf, VectorIndex.ivfKeys("ivf_flat_search")).root))
    for ((site, rs) <- roots) {
      assert(rs.nonEmpty, s"$site: no lance root in the plan")
      rs.foreach(r => assert(FixtureMemo.reaps(r), s"$site root $r is not deleted at exit"))
    }
  }
}
