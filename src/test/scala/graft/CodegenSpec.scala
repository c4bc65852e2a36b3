package graft

/** Every custom Catalyst expression must actually COMPILE under codegen —
  * not silently fall back to interpreted eval.
  *
  * Motivated by r17(9): BitPackSign's generated Java tripped a Janino
  * parse quirk ("(words[i/64] << 1) | ..." read as a cast type) and every
  * bit_pack_sign site ran interpreted since the expression landed, with
  * nothing but an ERROR log line to show for it — correctness gates can't
  * see the difference, and at 100 TB the interpreted path is the
  * difference between a popcount-per-row scan and boxed per-element eval.
  *
  * The lock: run a curated key set that collectively exercises the whole
  * scalar-expression inventory (BitVector, VectorDistance, the PQ/SQ
  * encoders + ADC + NearestCell(s), text hashes/fingerprints/simhash/
  * minhash/OPH, LSH
  * generators + SortedJaccard + block verify, LmScore/CharBigrams,
  * LangIdNgram, DeflateLen, Bpe*, MaxMinstdDraws, HLL estimate, heavy
  * hitters) with `spark.sql.codegen.fallback=false` (a whole-stage
  * compile failure THROWS instead of quietly degrading) and
  * `factoryMode=CODEGEN_ONLY` (non-WSCG projections too), and require
  * answers identical to the default-mode run. TypedImperativeAggregates
  * and custom generators legitimately run outside codegen (Spark has no
  * codegen seam for them) — they pass through both modes unchanged.
  */
class CodegenSpec extends SparkSpec {

  private val keys = Seq(
    // 1-bit family + float metrics (BitPackSign, HammingDistance,
    // VectorDistance on all metrics)
    "emb_binarize", "knn_hamming", "knn_hamming_rerank", "knn_cosine",
    "knn_cosine_f64", "knn_l2", "knn_dot",
    // quantization ladder (PqEncode/PqAdc/PqAdcPair/NearestCell(s),
    // SqEncode/SqAdc)
    "ivf_flat_search", "ivf_pq_search", "ivf_sq_search", "knn_join_pq",
    // the two-phase semantic screen (prescreen hamming + exact cosine)
    "contamination_semantic",
    // text expression inventory
    "text_fingerprint", "dedup_simhash", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "text_lm_score", "text_langid_ngram",
    "text_compress_ratio", "bpe_train", "text_tokens_bpe",
    // weighted sampling (MaxMinstdDraws) and sketches (HllSketchAgg +
    // HllEstimate, HeavyHitters)
    "sample_weighted", "q_events_dau_hll", "q_events_topk_sketch",
    // DSIR featurize + score + resample (DsirGramBuckets, DsirDocScore,
    // GumbelMicro)
    "sample_dsir", "sample_dsir_gumbel",
    // greedy MMR selection (MmrSelect)
    "knn_mmr",
    // sign random projection: 16 VectorDistance dots against literal
    // ±1 rows in one projection
    "emb_project",
    // streaming bodies (r17 follow-through): foreachBatch plans build
    // outside the batch keys' lineage, so run one member of each
    // streaming family under the same strict confs — the micro-batch
    // pipelines inherit the session conf at execution time
    "q_stream_neardedup", "q_stream_embedding_dedup",
    "q_stream_contamination_semantic", "q_stream_dau_hll")

  private def render(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq

  private def withStrictCodegen[A](body: => A): A = {
    val conf = spark.conf
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body
    finally {
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        conf.set("spark.sql.codegen.fallback", _))
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  /** A knn query compiles nothing per probe set: every index fragment
    * holds one cell, so the scan consumes `cell IN (probes)` and the probes
    * never reach generated code. The subtree headers name the scan's
    * pushed filters, probes included; the compiled sources are compared. */
  test("searchPlans with different probe sets generate the same code, no Filter on cell") {
    import graft.operators.{IndexBuild, VectorIndex}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val root = java.nio.file.Files.createTempDirectory("graft-cgs-").toString + "/idx"
    val idx = IndexBuild.build(spark, Tables.t(spark, sf, "embeddings"), root, Map(
      "index.type" -> "IVF_PQ", "index.num-partitions" -> "16", "index.num-bits" -> "4"))
    val queries = Seq(7L, 42L).map(VectorIndex.embeddingOf(spark, sf, _))
    for (options <- Seq(Map("vector.k" -> "10", "vector.nprobes" -> "4"),
        Map("vector.k" -> "10", "vector.nprobes" -> "4", "vector.refine-factor" -> "20"))) {
      assert(queries.map(q => VectorIndex.selectProbesExact(idx.centroids, q, 4).toSet)
        .distinct.size === 2)
      val plans = queries.map(IndexBuild.searchPlan(spark, idx, _, options)
        .queryExecution.executedPlan)
      for (p <- plans) {
        assert(p.collectFirst { case s: BatchScanExec => s }.nonEmpty, p)
        assert(p.collect { case f: FilterExec
          if f.condition.references.exists(_.name == "cell") => f }.isEmpty, p)
      }
      val code = plans.map(codegenStringSeq(_).map(_._2))
      assert(code.head.nonEmpty)
      assert(code.head === code(1), options)
    }
  }

  for (name <- keys)
    test(s"$name compiles and matches under CODEGEN_ONLY (no interpreted fallback)") {
      val default = render(name)
      val strict = withStrictCodegen(render(name))
      assert(strict === default, s"$name: strict-codegen answer diverged")
    }
}
