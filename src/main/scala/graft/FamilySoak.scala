package graft

import org.apache.spark.sql.functions._

/** >1 GB ON-DISK soak for the r18 selection / monitoring / retrieval
  * families (VERDICT r18 item 4): `sample_dsir`, `corpus_drift`,
  * `knn_maxsim` and `dedup_semantic_sweep` had only run at sf0.1 gate
  * scale; r20 (VERDICT r19 item 3) adds the last gate-scale-only
  * families — knn_mmr's greedy at production candidate budgets
  * (family 5), hybrid RRF end-to-end (family 6), dsir_refresh's
  * featurize+χ² pass (family 7) — and family 8, the pruned-vs-full
  * SERVING comparison over a >1 GB clustered store (the measurement
  * that decides the partial-probe production config; sf0.1 walls are
  * ingest-dominated and cannot). This drives each operator SHAPE over replicated on-disk parquet
  * (>1 GB at full scale) at TWO scales — half and full — so the scale
  * claims are measured, not asserted:
  *
  *   - wall ∝ data: the full/half wall ratio prints per stage and should
  *     sit near 2× (host noise aside) — a super-linear shape would read
  *     well above it;
  *   - flat per-partition memory: max task peakExecutionMemory prints per
  *     stage and must NOT grow with scale (the cap-chunked / B-bounded /
  *     k-heap shapes bound per-task state by construction);
  *   - driver state bounded: every collect in the loop is B-(=1024) or
  *     k-bounded and its row count prints.
  *
  * Corpus construction:
  *   - documents ×docMult (default 2000 ⇒ 10M docs, ≈1.2 GB parquet):
  *     plain replication with remapped doc_id — DSIR featurize/score and
  *     the drift report are per-row linear, duplication is irrelevant.
  *   - embeddings ×embMult (default 2000 ⇒ 4M vectors, ≈1.05 GB parquet):
  *     every 8 consecutive replicas share one deterministic TRANSFORM
  *     (rotate by t%64, negate at bit t/64, reverse at bit t/128) — so the
  *     corpus carries ~2000·m/8 engineered 8-member duplicate groups
  *     (group SIZE fixed, group COUNT ∝ data: keeps near-dup pair volume
  *     linear in the corpus, the way real duplication scales) while the
  *     transforms spread replicas across embedding space.
  *
  * The sweep blocks by the PRODUCTION recipe (trained KMeans cells — the
  * dedup_semantic_trained path) refined by sign-bit sub-blocks so the
  * block COUNT grows ∝ data with block size held ~constant (the knob a
  * deployment turns; the in-cell verify is exact-quadratic per block BY
  * CONTRACT, so fixed block size ⇒ wall ∝ blocks ∝ data). Identical
  * duplicates always share cell AND sign bits, so the engineered groups'
  * recall is exact; cross-block τ-level recall is the operator's
  * documented gate-scale contract.
  *
  * Not part of the driver contract. Run:
  *   SPARK_DRIVER_MEM=24g sbt "runMain graft.FamilySoak [docMult [embMult]] [family ...]"
  * (no family names = all of [[families]]).
  */
object FamilySoak {
  val families = Seq("dsir", "drift", "maxsim", "sweep", "mmr", "hybrid", "refresh", "pruned")

  def main(args: Array[String]): Unit = {
    val (mults, wanted) = Harness.soakArgs(args, families)
    val docMult = mults.headOption.getOrElse(2000)
    val embMult = mults.drop(1).headOption.getOrElse(2000)
    val sfDir = Harness.sfDir
    val out = "/tmp/graft-famsoak"
    val spark = Harness.session(32, Some(64))
    import spark.implicits._
    val cap = Harness.Capture.attach(spark)
    val walls = scala.collection.mutable.LinkedHashMap[String, Double]()
    def timed[T](name: String)(f: => T): T = {
      val (r, dt) = Harness.timed("famsoak", name, cap)(f)
      walls(name) = dt
      r
    }
    def ratio(stage: String): Unit =
      for (h <- walls.get(s"$stage half"); fl <- walls.get(s"$stage full"))
        println(f"[famsoak] $stage%-42s full/half wall ratio = ${fl / h}%.2f (data 2.0x)")

    def gb(path: String): Double = {
      def size(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(size).sum else f.length()
      size(new java.io.File(path)) / 1e9
    }

    // ---- corpus construction (reused across runs; delete /tmp to regen) --
    // file count ∝ data: a real corpus arrives in bounded-size files (and
    // bounded scan SPLITS via maxPartitionBytes), so per-task input rows —
    // and with them map-side partial-agg state — stay flat as data grows;
    // writing both scales as 64 files would double per-task rows instead
    def docSet(m: Int, files: Int): String = {
      val path = s"$out/documents_x$m.parquet"
      if (!new java.io.File(path).exists()) {
        val base = Tables.t(spark, sfDir, "documents")
        timed(s"replicate documents x$m") {
          base.crossJoin(spark.range(m).toDF("rep"))
            .withColumn("doc_id", col("doc_id") * m + col("rep"))
            .drop("rep")
            .repartition(files)
            .write.mode("overwrite").parquet(path)
        }
      }
      path
    }
    def embSet(m: Int, files: Int): String = {
      val path = s"$out/embeddings_x$m.parquet"
      if (!new java.io.File(path).exists()) {
        val base = Tables.t(spark, sfDir, "embeddings")
        timed(s"replicate embeddings x$m (8-dup transform groups)") {
          base.crossJoin(spark.range(m).toDF("rep"))
            .withColumn("t", (col("rep") / 8).cast("int"))
            .withColumn("r", pmod(col("t"), lit(64)).cast("int"))
            .withColumn("e1",
              expr("concat(slice(embedding, r + 1, 64 - r), slice(embedding, 1, r))"))
            .withColumn("e2",
              expr("CASE WHEN (t DIV 64) % 2 = 1 THEN transform(e1, x -> -x) ELSE e1 END"))
            .withColumn("embedding",
              expr("CASE WHEN (t DIV 128) % 2 = 1 THEN reverse(e2) ELSE e2 END"))
            .withColumn("vec_id", col("vec_id") * m + col("rep"))
            .withColumn("label", pmod(col("label") + col("t"), lit(10)).cast("int"))
            .select("vec_id", "embedding", "label")
            .repartition(files)
            .write.mode("overwrite").parquet(path)
        }
      }
      path
    }
    val docScales = Seq("half" -> docSet(docMult / 2, 64), "full" -> docSet(docMult, 128))
    val embScales = Seq("half" -> embSet(embMult / 2, 64), "full" -> embSet(embMult, 128))
    // partitions are sized to the data, as a deployment sizes them — the
    // flat-per-partition-memory claim is about rows per task, so the task
    // count must scale with the corpus (AQE coalesces where it overshoots)
    def sized(tag: String): Unit =
      spark.conf.set("spark.sql.shuffle.partitions",
        if (tag == "full") "128" else "64")
    // one untimed pass of every measured shape over the raw sf0.1 tables:
    // the JVM's first Spark jobs pay codegen-compiler/parquet-reader/JIT
    // init measured at 20-30s of single-task wall — without this the HALF
    // scale (which runs first) absorbs it and the full/half ratios read
    // nonsense (0.2-0.3x observed)
    timed("warmup (untimed shapes at sf0.1)") {
      val d0 = Tables.t(spark, sfDir, "documents")
      val e0 = Tables.t(spark, sfDir, "embeddings")
      val lam0 = operators.Sampling.dsirTrainOn(d0, col("lang") === "en", col("text"))
      operators.Sampling.dsirScore(d0, lam0)
        .orderBy(col("dsir_micro").desc, col("doc_id").asc).limit(10).collect()
      operators.TextAnalysis.driftReport(
        operators.TextAnalysis.driftCounts(d0)).collect()
      operators.VectorSearch.maxSimRank(spark,
        operators.VectorSearch.maxSimDocTokens(e0.select("vec_id", "embedding"), e0.count()),
        operators.VectorSearch.maxSimQueryToks(e0), None).collect()
      operators.Dedup.embeddingPairs(
          e0.select("vec_id", "embedding", "label"), operators.Dedup.EmbChunkCap)
        .filter(col("cos") >= 0.3).count()
      ()
    }
    println(f"[famsoak] documents full = ${gb(docScales(1)._2)}%.2f GB on disk, " +
      f"embeddings full = ${gb(embScales(1)._2)}%.2f GB on disk")
    require(gb(docScales(1)._2) > 1.0, "documents full scale must exceed 1 GB on disk")
    require(gb(embScales(1)._2) > 1.0, "embeddings full scale must exceed 1 GB on disk")

    // ---- 1. sample_dsir: B-bounded train + codegen score + k-heap top-K --
    val DsirSoakK = 100000
    if (wanted("dsir")) for ((tag, path) <- docScales) {
      sized(tag)
      val docs = spark.read.parquet(path)
      val lam = timed(s"dsir train $tag") {
        operators.Sampling.dsirTrainOn(docs, col("lang") === "en", col("text"))
      }
      println(s"[famsoak]   driver state: lambda = ${lam.length} buckets (B-bounded at any scale)")
      val sel = timed(s"dsir score+top${DsirSoakK / 1000}k $tag") {
        operators.Sampling.dsirScore(docs, lam)
          .orderBy(col("dsir_micro").desc, col("doc_id").asc)
          .limit(DsirSoakK)
          .select("doc_id", "dsir_micro").collect()
      }
      require(sel.length == DsirSoakK, s"dsir $tag: expected $DsirSoakK, got ${sel.length}")
    }
    ratio("dsir train"); ratio(s"dsir score+top${DsirSoakK / 1000}k")

    // ---- 2. corpus_drift: one (source,bucket) partial-agg shuffle --------
    if (wanted("drift")) for ((tag, path) <- docScales) {
      sized(tag)
      val docs = spark.read.parquet(path)
      val rep = timed(s"corpus_drift $tag") {
        operators.TextAnalysis.driftReport(
          operators.TextAnalysis.driftCounts(docs)).collect()
      }
      require(rep.length == 20, s"drift $tag: expected 20 sources, got ${rep.length}")
      println(s"[famsoak]   report rows = ${rep.length} (|sources|-bounded at any scale)")
    }
    ratio("corpus_drift")

    // ---- 3. knn_maxsim: linear broadcast token pass + k-heap -------------
    // split size PINNED: local mode sizes scan splits at totalBytes/32
    // (below the 128 MB maxPartitionBytes cap), so per-task input — and
    // with it the map-side partial-agg state — would grow with the corpus
    // here even though production's bound is the byte cap, not the data;
    // a fixed 16 MB split reproduces the capped posture at soak scale
    if (wanted("maxsim")) for ((tag, path) <- embScales) {
      sized(tag)
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
      // AQE's parallelismFirst coalesces shuffle partitions to the core
      // count over the 64 MB advisory — per-task agg state then grows with
      // the corpus; false (the documented busy-cluster setting) sizes
      // partitions by bytes, the flat-memory posture a 100 TB job runs
      spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      val e = spark.read.parquet(path).select("vec_id", "embedding")
      val n = e.count()
      val res = timed(s"knn_maxsim $tag") {
        operators.VectorSearch.maxSimRank(spark,
          operators.VectorSearch.maxSimDocTokens(e, n),
          operators.VectorSearch.maxSimQueryToks(e), None).collect()
      }
      require(res.length == 3 * operators.VectorSearch.MaxSimK,
        s"maxsim $tag: expected ${3 * operators.VectorSearch.MaxSimK} rows, got ${res.length}")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    }
    ratio("knn_maxsim")

    // ---- 4. dedup_semantic_sweep: trained cells + sign sub-blocks --------
    // Block count ∝ data (5 sub-bits at half, 6 at full over the same 256
    // trained cells) with block size held ~constant — pairs, and so the
    // per-τ closures, stay ∝ data. The engineered 8-dup groups share cell
    // and sign bits (identical vectors), so their recall is exact and the
    // drop counts are predictable: ≥ 7/8 of grouped members drop at every τ.
    if (wanted("sweep")) for (((tag, path), subBits) <- embScales.zip(Seq(5, 6))) {
      sized(tag)
      val e = spark.read.parquet(path)
      val cents = timed(s"sweep train 256 cells $tag") {
        operators.VectorIndex.trainCentroids(
          e.filter(pmod(col("vec_id"), lit(97)) === 0), "embedding", 256)
      }
      val signBits = (0 until subBits).map { j =>
        when(element_at(col("embedding"), j + 1) > 0f,
          lit(1L << (subBits - 1 - j))).otherwise(lit(0L))
      }.reduce(_ + _)
      val assigned = operators.Dedup.trainedAssign(e, cents)
        .withColumn("label", col("label") * (1L << subBits) + signBits)
      val pairs = timed(s"sweep pairs tau>=0.3 $tag") {
        operators.Dedup.embeddingPairs(assigned, operators.Dedup.EmbChunkCap)
          .filter(col("cos") >= 0.3)
          .select("a_id", "b_id", "cos")
          .localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      }
      val nPairs = pairs.count()
      val n = e.count()
      println(s"[famsoak]   pairs = $nPairs over $n vectors " +
        s"(${256L << subBits} blocks of ~${n / (256L << subBits)})")
      for (tau <- Seq(0.3, 0.4, 0.5, 0.6)) {
        val p = pairs.filter(col("cos") >= tau).select("a_id", "b_id")
        val nDropped = timed(f"sweep closure tau=$tau%.1f $tag") {
          val (lbls, _) = operators.Dedup.clusterLabels(spark, p)
          val d = lbls.filter(col("node") =!= col("lbl")).count()
          org.apache.spark.sql.graft.Shim.unpersistCheckpoint(lbls)
          d
        }
        println(s"[famsoak]   tau=$tau: dropped $nDropped of $n")
        require(nDropped >= (n * 7) / 8 * 8 / 10,
          s"sweep $tag tau=$tau: engineered 8-dup groups imply >= ~7/8 drops, got $nDropped/$n")
      }
      org.apache.spark.sql.graft.Shim.unpersistCheckpoint(pairs)
    }
    ratio("sweep pairs tau>=0.3")
    for (tau <- Seq(0.3, 0.4, 0.5, 0.6)) ratio(f"sweep closure tau=$tau%.1f")

    // ---- 5. knn_mmr greedy at PRODUCTION candidate budgets (r19 item 3) --
    // The serving knob is N (candidate pool per query): per-query greedy
    // state is the N² pair-sim table (~24 MB of collected structs at
    // N=1000). N is fixed by the deployment, so the CANDIDATE scan wall
    // is ∝ data while the greedy tail is ∝ queries·N² — FLAT in the
    // corpus. Both claims print: candidates full/half ≈ 2×, greedy ≈ 1×.
    if (wanted("mmr")) for (((tag, path), m) <- embScales.zip(Seq(embMult / 2, embMult))) {
      sized(tag)
      val e = spark.read.parquet(path).select("vec_id", "embedding")
      // rep=0 replicas carry the ORIGINAL vectors (identity transform), so
      // the fixture queries exist at vec_id*m in every scale
      val qids = Seq(100L, 200L, 300L).map(_ * m)
      val qv = operators.VectorSearch.resolveVecs(e, qids)
      val queries = qids.zipWithIndex.map { case (id, i) => (i.toLong, qv(id)) }
      for (n <- Seq(500, 1000)) {
        val cand = timed(s"mmr candidates N=$n $tag") {
          operators.VectorSearch.mmrCandidates(spark, e, queries, None, n)
            .localCheckpoint(true,
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        }
        val picked = timed(s"mmr greedy N=$n $tag") {
          operators.VectorSearch.mmrServe(cand, k = 10).collect()
        }
        require(picked.length == queries.size * 10,
          s"mmr $tag N=$n: expected ${queries.size * 10} picks, got ${picked.length}")
        org.apache.spark.sql.graft.Shim.unpersistCheckpoint(cand)
      }
    }
    for (n <- Seq(500, 1000)) {
      ratio(s"mmr candidates N=$n")
      ratio(s"mmr greedy N=$n") // expected ~1x: greedy is ∝ queries·N², not data
    }

    // ---- 6. hybrid RRF end-to-end (r19 item 3): build both structures
    // over the replicated corpus, serve both arms, fuse ------------------
    // Index build and both serving arms are ∝ data; the fuse is topK-
    // bounded rows per query, flat at any scale.
    if (wanted("hybrid")) {
      import spark.implicits._
      for (((tag, dPath), (_, ePath)) <- docScales.zip(embScales)) {
        sized(tag)
        val docs = spark.read.parquet(dPath).select("doc_id", "text")
        val idxRoot = s"$out/textidx_$tag"
        timed(s"hybrid text index build $tag") {
          operators.TextIndex.build(spark, docs, idxRoot)
        }
        val lex = timed(s"hybrid lexical search $tag") {
          operators.TextIndex.search(spark, idxRoot,
              operators.TextAnalysis.Bm25Queries.toDF("query_id", "term"),
              operators.TextAnalysis.Bm25TopK)
            .select(col("query_id"), col("doc_id"), col("rk").as("r"))
            .localCheckpoint()
        }
        val e = spark.read.parquet(ePath).select("vec_id", "embedding")
        val vec = timed(s"hybrid vector arm $tag") {
          operators.TextAnalysis.hybridVectorArm(spark, e,
            operators.TextAnalysis.hybridQueries(e), None).localCheckpoint()
        }
        val fused = timed(s"hybrid rrf fuse $tag") {
          operators.TextAnalysis.hybridRrfFuse(lex, vec).collect()
        }
        require(fused.nonEmpty && fused.length <=
          3 * operators.TextAnalysis.Bm25TopK * 2,
          s"hybrid $tag: unexpected fuse size ${fused.length}")
        org.apache.spark.sql.graft.Shim.unpersistCheckpoint(lex)
        org.apache.spark.sql.graft.Shim.unpersistCheckpoint(vec)
      }
      Seq("hybrid text index build", "hybrid lexical search",
        "hybrid vector arm", "hybrid rrf fuse").foreach(ratio)
    }

    // ---- 7. dsir_refresh: featurize pass + χ² gate (r19 item 3) ----------
    // The refresh's cost is ONE featurize pass over the corpus (∝ data);
    // the χ² gate itself runs on the driver over B-bounded counts and the
    // retrain arm, when armed, is exactly family 1's measured stages
    // (λ from counts + codegen score + k-heap top-K) — never timed twice.
    if (wanted("refresh")) {
      var baseline: Option[(Array[Long], Array[Long])] = None
      for ((tag, path) <- docScales) {
        sized(tag)
        val docs = spark.read.parquet(path)
        val (ct, cr) = timed(s"dsir_refresh counts $tag") {
          operators.Sampling.dsirTrainCounts(docs, col("lang") === "en", col("text"))
        }
        println(s"[famsoak]   driver state: ${ct.length}+${cr.length} " +
          "bucket counts (B-bounded at any scale)")
        baseline match {
          case None => baseline = Some((ct, cr))
          case Some((ct0, cr0)) =>
            // half vs full replicate the SAME distribution — the gate
            // must read in-distribution (no spurious retrains at scale)
            val same = math.max(operators.Sampling.dsirChi2(ct0, ct),
              operators.Sampling.dsirChi2(cr0, cr))
            println(f"[famsoak]   chi2(half, full) = $same%.6f (same distribution)")
            require(same < 0.05, f"dsir_refresh: same-distribution chi2 $same%.4f >= 0.05")
            // a real shift (target slice removed) must trip the gate
            val (ctS, crS) = operators.Sampling.dsirTrainCounts(
              docs.filter(col("lang") =!= "en")
                .withColumn("lang", when(pmod(col("doc_id"), lit(2)) === 0,
                  lit("en")).otherwise(col("lang"))),
              col("lang") === "en", col("text"))
            val shifted = math.max(operators.Sampling.dsirChi2(ct, ctS),
              operators.Sampling.dsirChi2(cr, crS))
            println(f"[famsoak]   chi2(full, shifted) = $shifted%.6f " +
              "(reads above the in-distribution gap; threshold calibration " +
              "is DsirRefreshSpec's measured-flood territory, not scale's)")
            require(shifted > same,
              "dsir_refresh: a distribution shift must read above the in-distribution gap")
        }
      }
      ratio("dsir_refresh counts")
    }

    // ---- 8. pruned SERVING at scale: where the probe win lives -----------
    // At sf0.1 the gated streaming keys' walls are ingest-dominated and a
    // fragment is a few MB — pruning saves nothing measurable (BENCH shows
    // _p8 within noise of full-probe). THIS is the measurement that
    // decides the production config: one >1 GB cell-clustered store,
    // identical serving plans at full vs partial probes. The partial-probe
    // wall must actually WIN here, or the config is pointless.
    if (wanted("pruned")) {
      val SoakCells = 64
      val path = embScales(1)._2 // full scale
      sized("full")
      val e = spark.read.parquet(path).select("vec_id", "embedding")
      val cents = timed(s"pruned-serve train $SoakCells cells") {
        operators.VectorIndex.trainCentroids(
          e.filter(pmod(col("vec_id"), lit(97)) === 0), "embedding", SoakCells)
      }
      val storeRoot = s"$out/served_store/t"
      if (!new java.io.File(storeRoot).exists()) timed("pruned-serve clustered write") {
        e.withColumn("cell", graft.functions.nearest_cell(
            col("embedding"), cents.flatten, cents.length, cents.head.length))
          .write.format("lance")
          .option("write.cluster-by", "cell")
          .mode("overwrite").save(storeRoot)
      }
      val store = spark.read.format("lance").load(storeRoot)
        .select("vec_id", "embedding", "cell")
      def serveWall(np: Int, label: String): Double = {
        timed(s"pruned-serve vector arm $label") {
          operators.TextAnalysis.hybridVectorArm(spark, store,
            operators.TextAnalysis.hybridQueries(store), Some((cents, np))).collect()
        }
        walls(s"pruned-serve vector arm $label")
      }
      val wFull = serveWall(SoakCells, s"$SoakCells/$SoakCells probes")
      val w8 = serveWall(8, s"8/$SoakCells probes")
      println(f"[famsoak] pruned-serve speedup at 8/$SoakCells probes = ${wFull / w8}%.2f x")
      require(w8 < wFull,
        f"partial-probe serving must beat the full scan at soak scale: $w8%.2f vs $wFull%.2f")
      // the MMR candidate stage over the same store, same comparison
      val qids = Seq(100L, 200L, 300L)
      val qv = operators.VectorSearch.resolveVecs(store, qids)
      val queries = qids.zipWithIndex.map { case (id, i) => (i.toLong, qv(id)) }
      def mmrWall(np: Int, label: String): Double = {
        timed(s"pruned-serve mmr candidates $label") {
          operators.VectorSearch.mmrCandidates(spark, store, queries,
            Some((cents, np)), 500).collect()
        }
        walls(s"pruned-serve mmr candidates $label")
      }
      val mFull = mmrWall(SoakCells, s"$SoakCells/$SoakCells probes")
      val m8 = mmrWall(8, s"8/$SoakCells probes")
      println(f"[famsoak] pruned-serve mmr-candidate speedup at 8/$SoakCells = ${mFull / m8}%.2f x")
      require(m8 < mFull,
        f"partial-probe MMR candidates must beat full probes at soak scale: $m8%.2f vs $mFull%.2f")
    }

    println("[famsoak] DONE")
    spark.stop()
  }
}
