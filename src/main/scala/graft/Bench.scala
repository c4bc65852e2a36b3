package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.json4s.{JDouble, JLong, JObject, JString, JValue}

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark main: runs the headline query set on SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line (also written to /tmp/graft_bench.json so the result
  * survives sbt log prefixes).
  *
  * De-noising: each query gets a warmup execution (JVM/codegen warmup
  * otherwise lands on whichever query runs first), then the MEDIAN of 3
  * timed runs is reported; one-time builds (IVF KMeans, PQ/SQ encode,
  * LSH pair materialization) are reported in a separate `builds` map so
  * the query series stays a pure serving-time comparison. Each key also
  * records its last run's data-side denominators (`data`: streaming
  * batches/rows from the [[Harness.Capture]], lance commits from
  * [[BenchProbe]]), and every key whose noise band exceeds 0.5 gets an
  * end-of-run `__spaced` re-median. Order is fixed, and a failing query
  * records an "errors" entry instead of a fake time.
  *
  * Two diagnostic modes run the same per-key body ([[keyBody]]):
  * `Bench plan OUTDIR TAG key...` (formatted explains + plan stability)
  * and `Bench profile key...` (per-job/stage wall attribution).
  */
object Bench {
  /** Fixed benchmark order: analytics headliners first (round-over-round
    * comparability with r1), then the heaviest new operators. New keys are
    * only ever APPENDED so earlier entries stay comparable across rounds. */
  val headliners: Seq[String] = Seq(
    "q1_pricing", "q3_top_orders", "q5_region_rev", "q_window_topsupp",
    "q_events_sessions", "q_asof_orders",
    "knn_cosine", "knn_filtered", "ivf_flat_search",
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "text_quality", "text_langid", "pipeline_clean",
    "lance_roundtrip", "lance_agg_pushdown",
    // appended r6
    "ivf_pq_search", "mm_frame_sample", "q_stream_sessions",
    // appended r9
    "knn_join", "text_chunk", "text_crossdup",
    // appended r10
    "dedup_canonical", "sample_token_budget",
    // appended r11
    "dedup_substring", "text_commonness", "sample_temperature",
    "corpus_stats", "knn_negatives",
    // appended r13
    "q_events_retention", "sample_stratified", "q_events_dau",
    // appended r14
    "text_tokens_bpe", "knn_hamming", "text_keywords", "text_lm_score",
    "q_events_anomaly",
    // appended r14 second half
    "q6_forecast", "q_rollup_pricing", "q_stream_join",
    "text_quality_classifier", "bpe_train", "pipeline_pretrain",
    "q_events_topk", "mm_image_dedup", "q_cdc_materialized",
    // appended r15
    "text_search_bm25", "text_search_indexed", "mm_video_frames",
    "q_stream_text_index", "emb_project", "q_events_dau_hll",
    "q_stream_dau_hll", "sample_cluster_balanced", "q_stream_mv_window",
    "mm_video_dedup", "q_stream_image_dedup", "sample_topk_uniform",
    "sample_weighted", "sample_weighted_budget", "pipeline_curate",
    // appended r16
    "mm_video_dedup_shingle", "mm_audio_dedup", "q_stream_audio_dedup",
    "mm_audio_dedup_trim",
    // K=3 disjoint query batches from ONE standing text index — the
    // recorded time / 3 is the per-batch marginal serving cost the
    // standing index amortizes to (build is charged to the memoized
    // first use under text_search_indexed, never here)
    "text_search_indexed_multi",
    // appended late r16: the decontamination family
    "text_contamination_ratio", "contamination_semantic",
    "q_stream_contamination",
    // appended late r16: the quantization ladder's middle rung + the
    // decontamination family's SQL entry point
    "ivf_sq_search", "lance_decontaminate",
    // appended r17: the dedup family's SemDeDup closer, the embedding
    // member of the streaming near-dup family, and the incremental
    // SemDeDup materialized view
    "dedup_semantic", "q_stream_embedding_dedup", "q_stream_semantic",
    // appended r18: the video member of the streaming near-dup family,
    // the trained-cell SemDeDup composition (batch + streaming MV), and
    // hybrid RRF retrieval
    "q_stream_video_dedup", "dedup_semantic_trained", "text_search_hybrid",
    "q_stream_semantic_trained",
    // appended late r18: the SemDeDup operating-point curve, hybrid
    // serving from the two maintained indexes, and multi-vector MaxSim
    "dedup_semantic_sweep", "q_stream_hybrid", "knn_maxsim",
    "q_stream_maxsim", "sample_dsir", "knn_mmr",
    "sample_dsir_gumbel", "q_stream_dsir", "lance_dsir",
    "corpus_drift", "q_stream_drift", "q_stream_mmr", "lance_drift",
    "lance_drift_call", "ivf_filtered_search",
    // appended r19: the retrieval family's probe-pruned production
    // serving configs + index-served MMR candidates (all gated at full
    // probes == their exact twins; the pruned scale path is spec'd)
    "knn_mmr_indexed", "knn_maxsim_indexed", "q_stream_mmr_pruned",
    "q_stream_maxsim_pruned", "q_stream_hybrid_pruned",
    // appended r20: the PARTIAL-probe serving arms (8 of 16 cells — the
    // actual production config; the _pruned keys above gate at full
    // probes for oracle exactness and pay clustering overhead with zero
    // pruning benefit). These measure where the pruning win lives:
    // compare each _p8 against its full-probe twin.
    "q_stream_mmr_pruned_p8", "q_stream_maxsim_pruned_p8",
    "q_stream_hybrid_pruned_p8")

  /** The ONE plan-string normalizer behind the per-key fingerprints:
    * strips every identity that legitimately varies across runs/JVMs on
    * identical code — expr ids, plan ids, paths, file-index locations,
    * partition counts, and (r18) JVM LAMBDA IDENTITIES: typed-API nodes
    * (MapPartitions, flatMapGroupsWithState, ...) print their function
    * object as `...$$Lambda$N/0xADDR@HASH`, all three components of which
    * are fresh per JVM — they flipped mm_frame_sample's and
    * q_stream_sessions' fingerprints on unchanged code until normalized
    * (`Bench plan` reproduces; the §8 item-7 rule is extend-the-
    * normalizer, never trust such a flip as a plan change). */
  private[graft] def normalizePlan(raw: String): String = raw
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("(file|hdfs|s3a?|countfs|mock):[^\\s\\],)]+", "<path>")
    .replaceAll("/tmp/[^\\s\\],)]+", "<tmp>")
    .replaceAll("Location: [A-Za-z]+\\([^)]*\\)\\[[^\\]]*\\]", "Location: <loc>")
    .replaceAll("(partitioning\\([^()]*), \\d+\\)", "$1, N)")
    .replaceAll("\\$\\$+Lambda[$/][^\\s,)]+", "<lambda>")
    // Integer.toHexString is UNPADDED: an identity hash below 0x100000
    // prints 1-5 digits, so the strip must accept any plausible width
    .replaceAll("@[0-9a-f]{1,16}\\b", "@<id>")
    // NORMALIZER v5: Spark abbreviates each scan metadata value
    // (DataFilters, PushedFilters, ...) to spark.sql.maxMetadataStringLength
    // BEFORE the ids above are stripped, so the digit count of the ids moves
    // the cut and flipped about a dozen keys on unchanged code. A cut value
    // that holds an expression id keeps only its text up to the first id,
    // the one prefix no id width can move (the Filter node above the scan
    // prints the full condition). Scala-API lambda variables are named from
    // a JVM-global counter (`lambda x_15#`); the counter is stripped too,
    // as is the random 32-hex suffix of per-run catalog table names.
    .replaceAll(TruncatedWithId, "$1$2...")
    .replaceAll("lambda (\\w+?)_\\d+\\b", "lambda $1_")
    .replaceAll("_[0-9a-f]{32}\\b", "_<uuid>")
    // an RDD's call site (`MapPartitionsRDD[n] at localCheckpoint at
    // StreamingOps.scala:2245`) names a source line, which moves with any
    // edit above it
    .replaceAll("(\\.scala):\\d+", "$1:N")
    // NORMALIZER v3 (r19): LanceScan lines print the table's manifest
    // version and fragment counts — run-shape data (how many commits a
    // stream happened to make, compaction cadence hits), not plan
    // structure; they flipped q_stream_image_dedup's fingerprint on
    // identical code. v4 (r20): ANCHORED to LanceScan description lines —
    // v3's unanchored strips would eat `version=`/`fragments=` anywhere in
    // the plan (e.g. a pinned time-travel version is plan structure, not
    // run shape) — and the kept/total fragment counts are BUCKETED to
    // pruned-vs-full instead of deleted, so a pushdown regression that
    // stops fragment pruning flips the fingerprint tripwire again.
    .linesIterator.map { line =>
      if (line.contains("LanceScan"))
        FragmentsRe.replaceAllIn(
          line.replaceAll("\\bversion=\\d+", "version="),
          m => if (m.group(1) == m.group(2)) "fragments=full" else "fragments=pruned")
      else line
    }.mkString("\n")

  private val FragmentsRe = "fragments=(\\d+)/(\\d+)".r

  /** `Key: value...` — a metadata value cut by Spark (it ends in `...`
    * before the next `, Key: ` or the line end) whose text holds an `#id`;
    * group 2 is the text up to and including the first `#`. */
  private val TruncatedWithId: String = {
    val inValue = "(?:(?!, [A-Z]\\w*: )[^\\n])"
    s"(\\b[A-Z]\\w*: )((?:(?!, [A-Z]\\w*: )[^#\\n])*#)$inValue*?\\.\\.\\.(?=, [A-Z]\\w*: |\\n|$$)"
  }

  def main(args: Array[String]): Unit = args.toList match {
    case Nil => bench()
    case "plan" :: outDir :: tag :: keys if keys.nonEmpty => plan(outDir, tag, keys)
    case "profile" :: keys if keys.nonEmpty => profile(keys)
    case _ => throw new IllegalArgumentException(
      "usage: Bench | Bench plan OUTDIR TAG key... | Bench profile key...")
  }

  /** A key's serving part: `run` executes the key once and returns the
    * frame it executed; `plan` maps that frame to the one the fingerprint
    * and `Bench plan` read. An `ivf_*` key's search is eager and returns a
    * local table, so its `plan` is the one Spark plan the search collects
    * (`IndexBuild.searchPlan`). */
  private case class Served(run: () => DataFrame, plan: DataFrame => DataFrame = identity)

  /** The body every mode runs for `name`: performs the key's one-time build
    * now (its wall recorded in `builds`) and returns the serving part.
    * Every `ivf_*` key builds its `IndexBuild` index once (charged to
    * `<key>_build`, `_search` dropped) and times the search alone; two more
    * keys charge the session-memoized LSH pair set and trained SemDeDup
    * index, which repeat consumers never pay again. */
  private def keyBody(spark: SparkSession, sfDir: String, name: String,
                      fn: (SparkSession, String) => DataFrame,
                      builds: mutable.Map[String, Double]): Served = {
    import operators.VectorIndex
    def build[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      builds(label) = (System.nanoTime() - t0) / 1e9
      r
    }
    VectorIndex.ivfKeys.get(name) match {
      case Some(key) =>
        val idx = build(name.stripSuffix("_search") + "_build")(
          VectorIndex.buildKey(spark, sfDir, key))
        val qv = VectorIndex.embeddingOf(spark, sfDir, VectorIndex.QueryVecId)
        // the search is eager: it has run when it returns
        Served(() => VectorIndex.searchKey(spark, idx, key, qv),
          _ => VectorIndex.searchKeyPlan(spark, idx, key, qv))
      case None =>
        name match {
          case "dedup_semantic_trained" =>
            build("semdedup_idx_build")(operators.Dedup.trainedSemIndex(spark, sfDir))
          case "dedup_minhash_lsh" =>
            build("lsh_pairs_build")(operators.Dedup.lshPairs(spark, sfDir).count())
          case _ =>
        }
        Served(() => { val df = fn(spark, sfDir); df.count(); df })
    }
  }

  /** Short hash of the normalized static (pre-AQE) physical plan plus its
    * line count. Equal fingerprints across rounds mean a wall-time swing is
    * host or data, not plans. Streaming keys fingerprint their sink-read
    * frame. */
  private def planFingerprint(df: DataFrame): String = {
    val norm = normalizePlan(df.queryExecution.executedPlan.toString)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(norm.getBytes("UTF-8"))
    digest.take(6).map(b => f"$b%02x").mkString + ":" + norm.linesIterator.size
  }

  /** The headline benchmark: one JSON line on stdout, also written to
    * /tmp/graft_bench.json and (full runs) ./BENCH.json, because a
    * captured stdout tail may be truncated. */
  private def bench(): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    val capture = Harness.Capture.attach(spark)

    val qs = SparkEntry.queries
    // optional comma-separated key filter for targeted local iteration
    // (SPARK_GRAFT_BENCH_KEYS=dedup_ngram_jaccard sbt "runMain graft.Bench")
    val only = sys.env.get("SPARK_GRAFT_BENCH_KEYS").map(_.split(",").toSet)
    val keys = headliners.filter(qs.contains).filter(k => only.forall(_.contains(k)))
    val times = mutable.LinkedHashMap[String, Double]()
    val errors = mutable.LinkedHashMap[String, String]()
    // one-time builds, reported apart from and excluded from `total`
    val builds = mutable.LinkedHashMap[String, Double]()
    // per-key streaming denominators + lance commits of the LAST measured run
    val data = mutable.LinkedHashMap[String, Seq[(String, Long)]]()
    // per-key plan fingerprint, from the warmup run's frame
    val plans = mutable.LinkedHashMap[String, String]()

    // Host-noise guard: medians start from `runs` samples and keep
    // sampling (up to MaxRuns) while the relative spread (max−min)/median
    // exceeds SpreadBound. The residual spread is RECORDED per key
    // ("noise"): a cross-round delta counts only when it clears both
    // rounds' noise bands.
    val SpreadBound = 0.30
    val MaxRuns = 6
    val noise = mutable.LinkedHashMap[String, Double]()
    def spreadOf(ts: Seq[Double]): Double = {
      val m = ts.sorted.apply(ts.length / 2)
      if (m <= 0) 0.0 else (ts.max - ts.min) / m
    }
    def medianMeasured(runs: Int)(sample: () => Double): (Double, Double) = {
      var ts = List.fill(runs)(sample())
      while (spreadOf(ts) > SpreadBound && ts.length < MaxRuns) ts = sample() :: ts
      (ts.sorted.apply(ts.length / 2), spreadOf(ts))
    }

    // bodies are kept so the end-of-run spaced recheck can re-measure ANY
    // noisy key without re-paying its one-time build
    val bodies = mutable.LinkedHashMap[String, () => Unit]()
    keys.foreach { name =>
      try {
        val served = keyBody(spark, sfDir, name, qs(name), builds)
        val body: () => Unit = () => {
          val df = served.run()
          if (!plans.contains(name)) plans(name) = planFingerprint(served.plan(df))
        }
        bodies(name) = body
        body() // warmup: JIT + codegen cache + FS cache
        // the capture is cleared and read OUTSIDE the timed region
        val (med, spread) = medianMeasured(3) { () =>
          capture.clear(); BenchProbe.lanceCommits.set(0)
          val dt = Harness.secs(body())
          val d = capture.streamCounts ++
            Seq("commits" -> BenchProbe.lanceCommits.get).filter(_._2 != 0L)
          if (d.nonEmpty) data(name) = d
          dt
        }
        times(name) = med
        noise(name) = math.rint(spread * 1000) / 1000
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          times(name) = -1.0
      }
    }
    // SPACED recheck: re-measure at the END of the run, far from the first
    // slot, every key whose noise band exceeds NoisyBand plus the map-only
    // canaries. A first-slot/spaced disagreement is bench-order or host
    // noise, not a plan change. Recorded as "<key>__spaced" and excluded
    // from `total`.
    val NoisyBand = 0.5
    val spacedKeys = (Seq("text_quality", "text_langid",
      "pipeline_clean", "corpus_stats", "knn_negatives") ++
      keys.filter(k => noise.getOrElse(k, 0.0) > NoisyBand)).distinct
    spacedKeys.foreach { name =>
      if (times.contains(name) && times(name) >= 0 && bodies.contains(name))
        times(s"${name}__spaced") = medianMeasured(3)(() => Harness.secs(bodies(name)()))._1
    }
    val total = times.collect { case (k, v) if v >= 0 && !k.endsWith("__spaced") => v }.sum
    val line = benchLine(total, times.toSeq, errors.toSeq, noise.toSeq, builds.toSeq,
      data.toSeq, plans.toSeq, sfDir)
    Files.writeString(Paths.get("/tmp/graft_bench.json"), line)
    // a key-filtered local iteration must not clobber the full snapshot
    if (only.isEmpty)
      try Files.writeString(Paths.get("BENCH.json"), line)
      catch { case scala.util.control.NonFatal(_) => () } // read-only cwd: stdout+tmp still carry it
    println(line)
    spark.stop()
  }

  /** Comparability flags that travel IN the artifact, so a cross-round diff
    * of the bench JSON alone cannot misread a split metric. */
  private val notes: Seq[(String, String)] = Seq(
    "dedup_minhash_lsh" -> "since r13 the one-time minhash+verify build is charged to lsh_pairs_build; per-query time here is the memoized-pair consumer cost and is not comparable to r12 and earlier",
    "dedup_ngram_jaccard" -> "PLAN CHANGED r15: candidate signature moved from 126-hash MinHash to one-permutation hashing (1 hash/gram + densification); output identical (exact verify decides), expect large speedup vs r14's 6.7 s",
    "contamination_semantic" -> "PLAN CHANGED r17 (two-phase screen) and AGAIN r18 (dimension-gated auto mode: rows under 256 dims short-circuit past the hamming eval, so the 64-dim fixture now runs the exact semantics with the sketch columns still present); output identical at every step, the screen's win is at production dims",
    "__spaced" -> "keys suffixed __spaced are the same query re-measured at the end of the run (since r17: every key whose noise band exceeds 0.5, plus the two map-only canaries); a first-slot/spaced disagreement marks bench-order noise, not a plan change",
    "builds" -> "since r17 one-time build entries (ivf_flat_build, lsh_pairs_build, ivf_pq_build, ivf_sq_build) live in the builds map, excluded from queries and total; r16-and-earlier totals include them. Since the one-index change every ivf_* key builds its persisted IndexBuild index once (<key>_build, _search dropped) and times IndexBuild.search alone, and its plan fingerprint reads IndexBuild.searchPlan: ivf_filtered_search no longer times its build, and ivf_pq_search / ivf_sq_search time a disk-backed, cell-pruned index search instead of a scan of a cached in-memory frame, so none of the three compares with earlier rounds",
    "host_tide" -> "wall times are single-host measurements: compare rounds through tools/bench_compare.py (noise bands, spaced re-medians, per-batch streaming denominators) and treat a broad same-direction shift on unchanged plan fingerprints as host speed, not code — the late-r18 close measured untouched map-only canaries at 1.5-2x their same-day morning walls on identical code/plans (shared-host slowdown, load 1.7 with zero local processes)",
    "data" -> "per-key data-side record of the LAST measured run: streaming batches/inputRows/sinkRows (StreamingQueryProgress) and lance manifest commits; the denominators for adjudicating streaming wall-time swings",
    "plans" -> "since r17: per-key sha-prefix:line-count fingerprint of the normalized static physical plan (ids/paths stripped, pre-AQE); equal across rounds = wall swing is host/data, changed = a real plan change — streaming keys fingerprint their sink-read side only. NORMALIZER v2 since r18 (JVM lambda identities in typed-API nodes stripped — they flipped fingerprints on unchanged code); v3 since r19 (LanceScan manifest version / fragment counts stripped — run-shape data, flipped q_stream_image_dedup on identical code); v4 since r20 (the v3 strips anchored to LanceScan description lines, and fragment counts bucketed to pruned-vs-full instead of deleted so a lost-pruning regression flips the tripwire again); v5 (scan metadata values that Spark cut mid-way keep only their text up to the first expression id, whose digit count moved the cut; Scala-API lambda variable counters and per-run table-name suffixes stripped); v6 (the source line of an RDD call site, `at StreamingOps.scala:N`, stripped — it moved with every edit above it and flipped the q_stream_mmr* formatted plans), so fingerprints compare only within the same normalizer version")

  /** The bench artifact: ONE compact line with the fixed field order
    * metric,value,unit,queries,errors,noise,builds,data,plans,notes,sf —
    * `tools/bench_compare.py` salvages truncated tails by that order and
    * by the `"name":{` form. */
  private[graft] def benchLine(total: Double, queries: Seq[(String, Double)],
      errors: Seq[(String, String)], noise: Seq[(String, Double)],
      builds: Seq[(String, Double)], data: Seq[(String, Seq[(String, Long)])],
      plans: Seq[(String, String)], sfDir: String): String = {
    def obj[V](kvs: Seq[(String, V)])(f: V => JValue) =
      JObject(kvs.map { case (k, v) => k -> f(v) }: _*)
    Harness.json(JObject(
      "metric" -> JString("total"), "value" -> JDouble(total), "unit" -> JString("sec"),
      "queries" -> obj(queries)(JDouble(_)), "errors" -> obj(errors)(JString(_)),
      "noise" -> obj(noise)(JDouble(_)), "builds" -> obj(builds)(JDouble(_)),
      "data" -> obj(data)(obj(_)(JLong(_))), "plans" -> obj(plans)(JString(_)),
      "notes" -> obj(notes)(JString(_)), "sf" -> JString(sfDir)))
  }

  /** `Bench plan OUTDIR TAG key...`: per key, writes the formatted explain
    * of Bench's own body to OUTDIR/<key>_<TAG>.txt and runs the body a
    * second time to check that the normalized plan is identical across
    * reps: an unstable fingerprint must be fixed in [[normalizePlan]], never
    * trusted as a plan change. Exits non-zero when a plan is unstable. */
  private def plan(outDir: String, tag: String, keys: Seq[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    val qs = SparkEntry.queries
    Files.createDirectories(Paths.get(outDir))
    val unstable = keys.filter { k =>
      val served = keyBody(spark, sfDir, k, qs(k), mutable.Map.empty)
      val reps = Seq.fill(2)(served.plan(served.run()))
      val formatted = reps.head.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val out = s"$outDir/${k}_$tag.txt"
      Files.writeString(Paths.get(out), formatted)
      val Seq(n1, n2) = reps.map(df => normalizePlan(df.queryExecution.executedPlan.toString))
      println(s"[plan] wrote $out (${formatted.linesIterator.size} lines); normalized plan " +
        (if (n1 == n2) "identical across 2 reps" else s"DIFFERS across reps:\n$n1\n----\n$n2"))
      n1 != n2
    }
    spark.stop()
    if (unstable.nonEmpty) sys.exit(1)
  }

  /** `Bench profile key...`: per key, the wall of the warmup run and of
    * three measured runs of Bench's own body (with each run's job count and
    * wall outside any job), then the last run's job table and its top
    * stages by task time. */
  private def profile(keys: Seq[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    val capture = Harness.Capture.attach(spark)
    val qs = SparkEntry.queries
    keys.foreach { k =>
      val builds = mutable.LinkedHashMap[String, Double]()
      val run = keyBody(spark, sfDir, k, qs(k), builds).run
      builds.foreach { case (b, s) => println(f"[profile] $k build $b $s%.3fs") }
      println(f"[profile] $k warmup ${Harness.secs(run())}%.3fs")
      val last = (1 to 3).map { i =>
        capture.clear()
        val wallMs = Harness.secs(run()) * 1e3
        val js = capture.jobs
        // wall covered by the union of job spans; the rest is driver time
        var covered, lastEnd = 0L
        js.foreach { j =>
          if (j.end > lastEnd) {
            covered += j.end - math.max(j.start, lastEnd); lastEnd = j.end
          }
        }
        println(f"[profile] $k run$i ${wallMs / 1e3}%.3fs jobs=${js.size} " +
          f"outsideJobs=${(wallMs - covered).toLong}ms")
        (wallMs, js)
      }.last
      val (wallMs, js) = last
      val stages = capture.stages
      println(s"===== $k: wall ${wallMs.toLong} ms, ${js.size} jobs =====")
      val base = js.headOption.fold(0L)(_.start)
      var lastEnd = 0L
      js.foreach { j =>
        val taskMs = stages.filter(s => j.stageIds.contains(s.id)).map(_.runMs).sum
        val dur = if (j.end > 0) j.end - j.start else -1
        val gap = math.max(0L, j.start - math.max(base, lastEnd))
        lastEnd = math.max(lastEnd, j.end)
        println(f"job ${j.id}%4d +${j.start - base}%6dms wall=$dur%5dms task=$taskMs%6dms gap=$gap%5dms  ${j.desc.take(110)}")
      }
      stages.sortBy(-_.runMs).take(12).foreach { s =>
        println(f"stage ${s.id}%4d task=${s.runMs}%6dms  ${s.name.take(90)}")
      }
    }
    spark.stop()
  }
}
