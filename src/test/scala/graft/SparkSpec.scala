package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, forked by sbt). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** Source scans of the main sources, relative to the working directory
  * (the repository root under sbt). */
object OperatorSources {
  /** Each (file name, enclosing member, line number, line) of the `.scala`
    * files directly under `dir` where `matches(line)`: the enclosing member
    * is the nearest member-level def above the line. */
  def sites(dir: String, matches: String => Boolean): Seq[(String, String, Int, String)] = {
    val d = new java.io.File(dir)
    assert(d.isDirectory, s"run from the repository root (no ${d.getPath})")
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored
    for {
      f <- d.listFiles().toSeq.filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      src = scala.io.Source.fromFile(f, "UTF-8")
      lines = try src.getLines().toVector finally src.close()
      (line, i) <- lines.zipWithIndex if matches(line)
    } yield {
      val owner = lines.take(i).reverseIterator.collectFirst { case member(n) => n }
      (f.getName, owner.getOrElse("<none>"), i + 1, line)
    }
  }

  /** Each (file name, enclosing member, line number) under
    * `src/main/scala/graft/operators` where the line contains `needle`. */
  def sites(needle: String): Seq[(String, String, Int)] =
    sites("src/main/scala/graft/operators", _.contains(needle)).map(s => (s._1, s._2, s._3))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf

  /** (result, Spark jobs, shuffle bytes written) of the jobs `body` starts
    * on this thread, told apart from other work by a fresh job group. */
  protected def jobsOf[A](body: => A): (A, Int, Long) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && stages.contains(e.stageId))
          shuffle.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try {
      val r = body
      org.apache.spark.sql.graft.Shim.waitUntilEmpty(sc)
      (r, jobs.get, shuffle.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

class EntrySpec extends SparkSpec {
  /** Exact expected row counts on sf0.001 — a query that silently changes
    * shape fails here before it reaches the driver's oracle gate. */
  private val expectedRows: Map[String, Long] = Map(
    "q1_pricing" -> 6,
    "q4_priority" -> 5,
    "q6_forecast" -> 1,
    "q_rollup_pricing" -> 10,
    "q_stream_join" -> 3,
    "q_stream_join_left" -> 188,
    "q_stream_dedup_window" -> 5,
    "q3_top_orders" -> 10,
    "q5_region_rev" -> 1,
    "q_window_topsupp" -> 10,
    "q_events_sessions" -> 150,
    "q_events_funnel" -> 1,
    "q_events_moving" -> 30,
    "knn_cosine" -> 10,
    "knn_join" -> 100,
    "knn_join_hamming" -> 100,
    "knn_negatives" -> 50,
    "knn_join_pq" -> 100,
    "knn_join_sql" -> 100,
    "emb_quantize" -> 500,
    "emb_binarize" -> 500,
    "knn_hamming" -> 10,
    "knn_hamming_rerank" -> 10,
    "knn_cosine_f64" -> 10,
    "knn_l2" -> 10,
    "knn_dot" -> 10,
    "knn_filtered" -> 10,
    "vector_similarity" -> 10,
    "text_tokens" -> 500,
    "text_tokens_bpe" -> 500,
    "bpe_train" -> 48,
    "bpe_train_tokenize" -> 500,
    "text_quality_classifier" -> 500,
    "text_keywords" -> 1500,
    "text_lm_score" -> 500,
    "text_quality" -> 500,
    "text_langid" -> 500,
    "text_langid_ngram" -> 500,
    "text_fingerprint" -> 500,
    "text_scrub" -> 500,
    "text_pack" -> 16,
    "text_pack_bpe" -> 16,
    "text_chunk" -> 806,
    "text_chunk_bpe" -> 705,
    "text_crossdup" -> 500,
    "text_source_cap" -> 200,
    "text_repetition" -> 500,
    "text_contamination" -> 10,
    "dedup_exact" -> 500,
    "dedup_minhash_lsh" -> 28,
    "dedup_clusters" -> 21,
    "dedup_canonical" -> 476,
    // the CALL system.dedup / system.sample SQL routes reproduce their
    // gated twins' answers (dedup_sql survivors: all 500 sf0.001 texts
    // are distinct, so every doc survives)
    "dedup_sql" -> 500,
    "dedup_pairs_sql" -> 28,
    "dedup_clusters_sql" -> 21,
    "dedup_canonical_sql" -> 476,
    "sample_mixture_sql" -> 74,
    "sample_temperature_sql" -> 98,
    "sample_budget_sql" -> 210,
    "sample_epochs_sql" -> 205,
    "split_sql" -> 500,
    "split_leakfree_sql" -> 500,
    "score_sql" -> 500,
    "score_langid_sql" -> 500,
    "score_fingerprint_sql" -> 500,
    "chunk_sql" -> 806,
    "pack_sql" -> 16,
    "sample_hash" -> 500,
    "sample_token_budget" -> 210,
    "sample_token_budget_bpe" -> 210,
    "sample_mixture" -> 74,
    "sample_temperature" -> 98,
    "sample_epochs" -> 205,
    "sample_split_leakfree" -> 500,
    "sample_stratified" -> 98,
    "q_events_retention" -> 15,
    "q_events_dau" -> 30,
    "q_events_anomaly" -> 23,
    "q_events_topk" -> 25,
    "q_events_topk_sketch" -> 25,
    "q_events_percentiles" -> 5,
    "q_events_percentiles_approx" -> 5,
    "text_search_bm25" -> 15,
    "text_search_indexed" -> 15,
    "text_search_indexed_multi" -> 45, // 3 batches x 3 queries x top-5

    "q_stream_text_index" -> 15,
    "q_stream_mv_window" -> 868,
    "emb_project" -> 8000,
    "q_events_dau_hll" -> 30,
    "q_stream_dau_hll" -> 30,
    "sample_cluster_balanced" -> 446,
    "sample_topk_uniform" -> 120,
    "sample_weighted" -> 100,
    "sample_weighted_budget" -> 209,
    "text_compress_ratio" -> 500,
    "corpus_stats" -> 20,
    "text_commonness" -> 500,
    "dedup_substring" -> 500,
    "dedup_substring_hashed" -> 500,
    "q_stream_index" -> 15,
    "q_stream_index_once" -> 15,
    "q_stream_index_pq" -> 15,
    "q_stream_dedup" -> 500,
    "q_stream_neardedup" -> 28,
    "dedup_simhash" -> 27,
    "dedup_ngram_jaccard" -> 8,
    "dedup_embedding" -> 5,
    "dedup_semantic" -> 495,
    "q_stream_embedding_dedup" -> 5,
    "q_stream_semantic" -> 495,
    "mm_features" -> 500,
    "mm_resize" -> 500,
    "mm_frame_sample" -> 1436,
    "mm_video_frames" -> 1480,
    "mm_video_dedup" -> 2205,
    "mm_video_dedup_shingle" -> 2205,
    "mm_audio_features" -> 500,
    "mm_audio_dedup" -> 2250,
    "mm_audio_dedup_trim" -> 2250,
    "mm_image_dedup" -> 2250,
    "q_stream_image_dedup" -> 2250,
    "q_stream_audio_dedup" -> 2250,
    "lance_roundtrip" -> 1,
    "lance_events_roundtrip" -> 5,
    "lance_overwrite" -> 1,
    "lance_append_multi" -> 1,
    "lance_projection" -> 20,
    "lance_filter_pushdown" -> 1,
    "lance_limit_pushdown" -> 1,
    "lance_agg_pushdown" -> 1,
    "lance_filtered_stats" -> 1,
    "lance_agg_groupby" -> 3,
    "lance_clustered_write" -> 3,
    "lance_runtime_prune" -> 1,
    "lance_bucket_join" -> 1,
    "knn_sql_call" -> 10,
    "lance_zorder" -> 1,
    "lance_zorder_string" -> 1,
    "lance_merge" -> 1,
    "lance_time_travel" -> 1,
    "lance_types_roundtrip" -> 1,
    "lance_sql_catalog" -> 1,
    "lance_streaming_sink" -> 1,
    "lance_delete" -> 1,
    "lance_update" -> 1,
    "lance_hll_distinct" -> 3,
    "lance_replace" -> 1,
    "q_stream_cdc" -> 2,
    "q_batch_cdc" -> 2,
    "q_cdc_materialized" -> 5,
    "q_stream_mv" -> 5,
    "q_stream_classifier" -> 500,
    "ivf_flat_search" -> 15,
    "ivf_append_search" -> 15,
    "ivf_hnsw_search" -> 15,
    "ivf_pq_search" -> 10,
    "ivf_pq_refine" -> 10,
    "lance_stream_pipeline" -> 1,
    "q_stream_window" -> 531,
    "q_stream_sessions" -> 585,
    "q_asof_orders" -> 10,
    "q_range_orders" -> 10,
    "pipeline_clean" -> 20,
    "pipeline_curate" -> 20,
    "pipeline_pretrain" -> 16,
    "text_contamination_ratio" -> 7,
    "contamination_semantic" -> 3,
    "q_stream_contamination" -> 10,
    "q_stream_contamination_semantic" -> 3,
    "ivf_sq_search" -> 15,
    "ivf_sq_index_search" -> 15,
    "lance_decontaminate" -> 465,
    "q_stream_video_dedup" -> 2205,
    // 481 since r20: the adaptive trainer (LocalKMeans restarts, lowest
    // SSE) lands different — better-quantized — cells than the MLlib fit,
    // so the trained-cell survivor count moves; the armed centroid-literal
    // oracle re-derives and stays exact (full gate green)
    "dedup_semantic_trained" -> 481,
    "q_stream_semantic_trained" -> 481,
    "lance_semdedup" -> 481,
    "text_search_hybrid" -> 15,
    "q_stream_hybrid" -> 15,
    "dedup_semantic_sweep" -> 4,
    "knn_maxsim" -> 15,
    "q_stream_maxsim" -> 15,
    "sample_dsir" -> 100,
    "sample_dsir_gumbel" -> 100,
    "q_stream_dsir" -> 100,
    "lance_dsir" -> 100,
    "corpus_drift" -> 20,
    "q_stream_drift" -> 20,
    "knn_mmr" -> 30,
    "q_stream_mmr" -> 30,
    // r19 probe-pruned/index-served serving twins: full-probe gate
    // configs are provably row-for-row equal to their exact twins
    "knn_mmr_indexed" -> 30,
    "q_stream_mmr_pruned" -> 30,
    "knn_maxsim_indexed" -> 15,
    "q_stream_maxsim_pruned" -> 15,
    "q_stream_hybrid_pruned" -> 15,
    // r20 partial-probe production arms: approximate SETS, but the
    // per-query row budget always fills (k picks / k ranks per query)
    "q_stream_mmr_pruned_p8" -> 30,
    "q_stream_maxsim_pruned_p8" -> 15,
    "q_stream_hybrid_pruned_p8" -> 15,
    // r20 SQL serving modes: exact brute paths over un-indexed catalog
    // copies, row-for-row the gated twins' answers
    "knn_mmr_sql" -> 30,
    "knn_maxsim_sql" -> 15,
    "hybrid_sql" -> 15,
    "lance_drift" -> 20,
    "lance_drift_call" -> 20,
    "ivf_filtered_search" -> 15)

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
  test("every registered query has an expected-rows entry") {
    val missing = SparkEntry.queries.keySet -- expectedRows.keySet
    assert(missing.isEmpty, s"add expected sf0.001 row counts for: $missing")
  }
  for ((name, expected) <- expectedRows.toSeq.sortBy(_._1)) {
    test(s"$name returns exactly $expected rows on sf0.001") {
      val fn = SparkEntry.queries.getOrElse(name, fail(s"query $name not registered"))
      assert(fn(spark, sf).count() === expected)
    }
  }
  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }
}
