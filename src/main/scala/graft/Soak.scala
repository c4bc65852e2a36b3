package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-soak harness: replicates the sf0.1 tables ~100× (≈ SF 10) into
  * /tmp/graft-soak and times the headline operator shapes on them — the
  * local evidence that the plans hold at 2-3 orders of magnitude above the
  * correctness-gate scale (fragment-parallel scans, bucket-bounded dedup,
  * probe-pruned index search). Not part of the driver contract; run with
  *   sbt "runMain graft.Soak [mult] [stage ...]"
  * (no stage names = all of [[stages]], in that order). `mult` scales the
  * replicated tables and every stage sized by it; `mult` 1 is the smoke
  * scale.
  */
object Soak {
  val stages = Seq("mv", "mv_window", "classifier", "join", "ngram_x64", "text_index",
    "image_stream", "semmv", "lance1g", "contamination", "sortrep", "spj",
    "q1", "knn", "negatives", "dedup", "near_stream", "exact_stream", "lance_dml",
    "clusters", "pack", "crossdup", "chunk", "substring", "commonness", "knn_join",
    "adc_join", "quantize", "hamming", "lm_score", "keywords", "bpe", "nb_classifier",
    "interval_join")

  def main(args: Array[String]): Unit = {
    val (scales, wanted) = Harness.soakArgs(args, stages)
    val mult = scales.headOption.getOrElse(100)
    val sfDir = Harness.sfDir
    val out = "/tmp/graft-soak"
    val spark = Harness.session(32, Some(64))
    import spark.implicits._
    val cap = Harness.Capture.attach(spark)

    def stage(name: String)(body: => Unit): Unit = if (wanted(name)) body
    def timed[T](name: String)(f: => T): T = Harness.timed("soak", name, cap)(f)._1
    def withConf[T](kvs: (String, String)*)(body: => T): T = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

    def soakTable(name: String, m: Int)(remap: (DataFrame, org.apache.spark.sql.Column) => DataFrame): String = {
      val path = s"$out/${name}_x$m.parquet"
      if (!new java.io.File(path).exists()) {
        val base = Tables.t(spark, sfDir, name)
        timed(s"replicate $name x$m") {
          remap(base.crossJoin(spark.range(m).toDF("rep")), col("rep"))
            .drop("rep")
            .repartition(64)
            .write.mode("overwrite").parquet(path)
        }
      }
      path
    }

    // row count of declared key `key` run over replicated tables: the
    // operators read <dir>/<table>.parquet, so a dir of links is the input
    def keyOver(key: String, tables: (String, String)*): Long = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-soak-$key-")
      tables.foreach { case (t, path) =>
        java.nio.file.Files.createSymbolicLink(dir.resolve(s"$t.parquet"), java.nio.file.Paths.get(path))
      }
      SparkEntry.queries(key)(spark, dir.toString).count()
    }

    // (batch id, input rows, seconds) of the data-carrying micro-batches
    // reported since progress mark p0
    def batchesSince(p0: Int): Seq[(Long, Long, Double)] =
      cap.progress.drop(p0).map(p => (p.batchId, p.numInputRows, p.batchDuration / 1000.0))
        .sortBy(_._1).filter(_._2 > 0)
    // per-batch cost must not grow with history: the last data batch must
    // not cost materially more than the second (the first carries
    // codegen/startup warmup)
    def flatBatches(bs: Seq[(Long, Long, Double)]): Unit = if (bs.size >= 4) {
      val ratio = bs.last._3 / bs(1)._3
      println(f"[soak]   last/second batch time = $ratio%.2f")
      require(ratio <= 2.5, f"per-batch cost grew with history: last/second = $ratio%.2f")
    }

    // ---- q_stream_mv: per-epoch refresh cost over an ACCUMULATING base ---
    // The refresh's work per epoch must be |batch delta| + O(|MV|), never
    // O(accumulated base): the changefeed reads only commits since the
    // checkpoint, the delta table is |groups|-sized, and the full-outer
    // merge touches the 5-row MV. A per-epoch time that grows with the
    // base would falsify the incremental claim.
    stage("mv") {
      timed("q_stream_mv: 8-epoch refresh over accumulating base") {
        val sfx = java.util.UUID.randomUUID().toString.take(8)
        val root = s"$out/smv-$sfx/base"
        val mvT = s"$out/smv-$sfx/mv/t"
        val ckpt = s"$out/smv-$sfx/ckpt"
        val orders = Tables.t(spark, sfDir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
        for (epoch <- 1 to 8) {
          orders.withColumn("o_orderkey", col("o_orderkey") + lit(epoch * 100000000L))
            .write.format("lance")
            .mode(if (epoch == 1) "overwrite" else "append")
            .option("maxRowsPerFile", "20000").save(root)
          val dt = Harness.secs(operators.StreamingOps.streamMvRefresh(spark, root, mvT, ckpt))
          val mvRows = spark.read.format("lance").load(mvT).count()
          println(f"[soak]   mv epoch $epoch%2d: refresh $dt%6.2f s, mv rows = $mvRows (base = ${epoch}x)")
        }
      }
    }

    // ---- q_stream_mv_window: per-epoch refresh over advancing event time -
    // Each epoch streams a NEW month of events (the whole sf events table,
    // time-shifted) through the windowed MV. The epoch's cost must be
    // |batch| + O(|MV|): the watermark advances past the previous month, so
    // the state store only ever holds the CURRENT month's open windows
    // (bounded, ∝ horizon × groups) while the MV accumulates every closed
    // window. Per-epoch time growing with the accumulated SOURCE would
    // falsify the claim; growing gently with |MV| is the documented
    // overwrite cost (partition-by-day rewrites bound it at scale).
    stage("mv_window") {
      timed("q_stream_mv_window: 8-epoch refresh, advancing event time") {
        val sfx = java.util.UUID.randomUUID().toString.take(8)
        val srcDir = s"$out/smvw-$sfx/src"
        val mvT = s"$out/smvw-$sfx/mv/t"
        val ckpt = s"$out/smvw-$sfx/ckpt"
        val ev = Tables.t(spark, sfDir, "events")
          .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("event_id"))
        val evC = ev.localCheckpoint(true)
        for (epoch <- 1 to 8) {
          evC.withColumn("ts", col("ts") + expr(s"INTERVAL ${(epoch - 1) * 31} DAYS"))
            .withColumn("event_id", col("event_id") + lit(epoch * 100000000L))
            .repartition(2)
            .write.mode("append").parquet(srcDir)
          val dt = Harness.secs(operators.StreamingOps.streamMvWindowRefresh(spark, srcDir,
            evC.schema, mvT, ckpt, delay = "90 days"))
          val mvRows = spark.read.format("lance").load(mvT).count()
          println(f"[soak]   mvw epoch $epoch%2d: refresh $dt%6.2f s, mv rows = $mvRows")
        }
        // 8 epochs of delete+append leave per-batch fragments + DV sidecars;
        // compaction folds them without moving the answer
        def mvSum = spark.read.format("lance").load(mvT)
          .agg(count(lit(1)), sum("n"), sum("sum_id")).first()
        val before = mvSum
        val fragsBefore = spark.read.format("lance").load(mvT)
          .select(col("_file")).distinct().count()
        val jobMark = cap.jobMark
        val tC = Harness.secs(sources.lance.LanceMaintenance.compact(spark, mvT,
          smallerThanRows = 100000, targetRows = 1 << 20))
        val compactJobs = cap.jobsAfter(jobMark).size
        val fragsAfter = spark.read.format("lance").load(mvT)
          .select(col("_file")).distinct().count()
        println(f"[soak]   mvw compact: $tC%.2f s in $compactJobs Spark job(s), " +
          s"fragments $fragsBefore -> $fragsAfter, answer unchanged = ${mvSum == before}")
        require(mvSum == before, "compaction moved the windowed-MV answer")
      }
    }

    // ---- q_stream_classifier: per-epoch delta-append cost ----------------
    // Additive state: each epoch appends a (label, bucket)-bounded delta
    // (<= 2*2^16 + 2 rows) regardless of history; per-epoch refresh time
    // must stay flat while the source and the generation-tagged model
    // table accumulate.
    stage("classifier") {
      timed("q_stream_classifier: 8-epoch delta-append") {
        val sfx = java.util.UUID.randomUUID().toString.take(8)
        val srcDir = s"$out/sclf-$sfx/src"
        val modelT = s"$out/sclf-$sfx/model/t"
        val ckpt = s"$out/sclf-$sfx/ckpt"
        val (qLo, qHi) = operators.StreamingOps.classifierThresholds(spark, sfDir)
        val raw = Tables.t(spark, sfDir, "documents")
        for (epoch <- 1 to 8) {
          raw.withColumn("doc_id", col("doc_id") + lit(epoch * 100000000L))
            .coalesce(1).write.mode("append").parquet(srcDir)
          val dt = Harness.secs(operators.StreamingOps.classifierRefresh(spark, srcDir,
            modelT, ckpt, raw.schema, qLo, qHi))
          val gens = spark.read.format("lance").load(modelT).count()
          println(f"[soak]   clf epoch $epoch%2d: refresh $dt%6.2f s, model delta rows = $gens")
        }
      }
    }

    // ---- q_stream_join: state plateau under SUSTAINED per-key traffic ----
    // The same users send a view+purchase pair every simulated hour for 16
    // micro-batches under a 10-minute watermark delay: join state must
    // plateau at ~(delay + 1h window) of rows per key and EVICT the rest —
    // linear growth here would mean unbounded state at 100 TB.
    stage("join") {
      timed("q_stream_join: 16-batch sustained-traffic state plateau") {
        val sfx = java.util.UUID.randomUUID().toString.take(8)
        val vDir = s"$out/sjoin-$sfx/v"; val pDir = s"$out/sjoin-$sfx/p"
        new java.io.File(vDir).mkdirs(); new java.io.File(pDir).mkdirs()
        import spark.implicits._
        val users = 500
        val baseTs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        val schema = Seq((0L, 0L, "view", new java.sql.Timestamp(0L)))
          .toDF("event_id", "user_id", "event_type", "ts").schema
        for (b <- 0 until 16) {
          val t = baseTs + b.toLong * 3600 * 1000
          val views = (0 until users).map(u =>
            (b.toLong * users + u, u.toLong, "view", new java.sql.Timestamp(t)))
            .toDF("event_id", "user_id", "event_type", "ts")
          val purchases = (0 until users).map(u =>
            (1000000L + b.toLong * users + u, u.toLong, "purchase",
              new java.sql.Timestamp(t + 5 * 60 * 1000)))
            .toDF("event_id", "user_id", "event_type", "ts")
          views.coalesce(1).write.mode("append").parquet(vDir)
          purchases.coalesce(1).write.mode("append").parquet(pDir)
          // controlled modification order so maxFilesPerTrigger=1 replays
          // the epochs in time order on both sides. Epochs are spaced a full
          // SECOND apart: Java only guarantees whole-second lastModified
          // precision, and millisecond spacing collapses to one mtime on
          // such filesystems, shuffling the replay order
          val epochTs = baseTs + b.toLong * 1000
          def stamp(dir: String): Unit =
            new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
              .sortBy(_.getName)
              .foreach { f => if (f.lastModified() > epochTs) f.setLastModified(epochTs) }
          stamp(vDir); stamp(pDir)
        }
        val p0 = cap.progress.size
        val n = operators.StreamingOps.streamJoinFrom(spark, vDir, pDir,
          schema, "10 minutes", filesPerTrigger = 1).count()
        val stateRows = cap.progress.drop(p0).map(_.stateOperators)
          .filter(_.nonEmpty).map(_.map(_.numRowsTotal).sum)
        println(s"[soak]   joined rows = $n; per-batch state rows = ${stateRows.mkString(",")}")
        if (stateRows.length >= 8) {
          val early = stateRows(stateRows.length / 2)
          val late = stateRows.last
          println(f"[soak]   state mid-run = $early, end = $late (flat == eviction works)")
        }
      }
    }

    // ---- dedup_ngram_jaccard ×mult: the TIER-2 escalation path -----------
    // At sf0.1 every (lang, length-bucket) block fits under BlockCap=512
    // and tier 1 answers exactly; replicated ×64 the blocks overflow and
    // the corpus routes through the LSH tier — the 100 TB path. This
    // times that path end-to-end and sanity-checks the answer shape
    // (every original pair must reappear between the replicas' copies of
    // the same docs is NOT required — doc_ids are remapped per replica so
    // densities stay constant; the check is bounded fan-out + nonzero
    // recall on the intra-replica pairs).
    stage("ngram_x64") {
      timed("dedup_ngram_jaccard x64 (tier-2 LSH path)") {
        val m = 64
        val n = keyOver("dedup_ngram_jaccard", "documents" -> soakTable("documents", m)(
          (df, rep) => df.withColumn("doc_id", col("doc_id") * m + rep)))
        println(s"[soak]   x64 verified pairs = $n (500k docs through the LSH tier)")
        assert(n > 0)
      }
    }

    stage("text_index") {
      timed("q_stream_text_index: 8-epoch delta appends") {
        val sfx = java.util.UUID.randomUUID().toString.take(8)
        val root = s"$out/stidx-$sfx/idx"
        val raw = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
        for (epoch <- 1 to 8) {
          val batch = raw.withColumn("doc_id", col("doc_id") + lit(epoch * 100000000L))
          val dt = Harness.secs(operators.TextIndex.appendDelta(spark, batch, root, epoch.toLong))
          println(f"[soak]   stidx epoch $epoch%2d: append $dt%6.2f s")
        }
        var hits = 0L
        val t1 = Harness.secs {
          hits = operators.TextIndex.search(spark, root,
            operators.TextAnalysis.Bm25Queries.toDF("query_id", "term"),
            operators.TextAnalysis.Bm25TopK).count()
        }
        println(f"[soak]   stidx search over 8-gen index: $t1%.2f s, rows = $hits")
        println(f"[soak]   stidx compact: ${Harness.secs(operators.TextIndex.compact(spark, root))}%.2f s")
      }
    }

    // ---- streaming image near-dedup: per-batch cost vs history -----------
    // A ×16 image corpus (8,000 synthesized PNGs, re-derived per replica
    // doc_id so patterns/variants spread naturally) over 8 micro-batches:
    // each batch decodes ONLY its own images and probes the accumulated
    // band-key/signature stores via their bucket covers — per-batch cost
    // must not grow with decoded history. Like the text soak, same-pattern
    // replicas are legitimate near-dups, so verified pairs grow ∝ history
    // (real work, not a flaw).
    stage("image_stream") {
      timed("streaming image dedup x16, 8 micro-batches") {
        import spark.implicits._
        val imgMult = 16
        val srcDir = s"$out/simg-src-${System.nanoTime()}"
        spark.range(0, 500L * imgMult).select(col("id").as("doc_id"))
          .as[Long]
          .mapPartitions(it => it.map(id => (id, operators.Multimodal.synthImage(id))))
          .toDF("doc_id", "image")
          .repartition(8)
          .write.parquet(srcDir)
        val p0 = cap.progress.size
        val keysT = s"$out/simg-keys-${System.nanoTime()}/t"
        val sigsT = s"$out/simg-sigs-${System.nanoTime()}/t"
        val pairs = operators.StreamingOps
          .streamImageDedupAt(spark, sfDir, keysT, sigsT, srcParts = 8,
            srcDir0 = srcDir)
          .count()
        val bs = batchesSince(p0)
        bs.foreach { case (id, rows, sec) =>
          println(f"[soak]   batch $id: $rows imgs in $sec%.2f s") }
        println(s"[soak]   verified pairs = $pairs")
        flatBatches(bs)
      }
    }


    // ---- q_stream_semantic / q_stream_embedding_dedup: growing history ---
    // min(24, mult) sequential micro-batches with the maintenance cadence
    // ON (compactEvery = 4); per batch: wall, the sink's and the key
    // store's live fragments, manifest versions and files on disk. Per-batch
    // serving cost AND physical footprint must stay flat as the history
    // grows (without the cadence both accrue one fragment + one manifest
    // version per batch, and the probe's per-fragment cost climbs).
    stage("semmv") {
      val nBatches = math.min(24, mult)
      val conf = spark.sparkContext.hadoopConfiguration
      def files(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(files).sum else if (f.exists()) 1 else 0
      def stats(table: String): String = {
        val frs = sources.lance.ManifestIO.loadLatest(table, conf)
          .map(_.fragments.count(_.liveRows > 0)).getOrElse(0)
        val vers = sources.lance.ManifestIO.listVersions(table, conf).size
        s"frags=$frs vers=$vers files=${files(new java.io.File(table))}"
      }
      val e = Tables.t(spark, sfDir, "embeddings")
        .select("vec_id", "label", "embedding").localCheckpoint()
      type Drive = (String, String, String, String, String) => Unit
      val drives: Seq[(String, Drive)] = Seq(
        "ssem" -> ((src, ck, k, v, d) => operators.StreamingOps.streamSemanticAt(spark, sfDir,
          k, v, srcDir0 = src, ckpt0 = ck, dst0 = d, compactEvery = 4, vacuumOnCompact = true)),
        "semb" -> ((src, ck, k, v, d) => operators.StreamingOps.streamEmbeddingDedupAt(spark,
          sfDir, k, v, srcDir0 = src, ckpt0 = ck, dst0 = d, compactEvery = 4,
          vacuumOnCompact = true)))
      for ((name, drive) <- drives) timed(s"$name: $nBatches growing-history batches") {
        def dir(p: String) = java.nio.file.Files.createTempDirectory(s"$name-$p-").toString
        val Seq(src, ck) = Seq("src", "ck").map(dir)
        val Seq(keysT, stT, dst) = Seq("k", "v", "d").map(dir(_) + "/t")
        for (b <- 0 until nBatches) {
          e.filter(pmod(col("vec_id"), lit(nBatches)) === b)
            .coalesce(1).write.mode("append").parquet(src)
          val wall = Harness.secs(drive(src, ck, keysT, stT, dst))
          println(f"[soak]   $name batch=$b%2d wall=$wall%6.2f s  dst: ${stats(dst)}  keys: ${stats(keysT)}")
        }
      }
    }

    // ---- lance connector at >1 GB on disk --------------------------------
    // lineitem ×(mult·6/5) (72M rows at the default) as 8 range-clustered
    // fragments: fragment byte-range splits, range pruning, stats-answered
    // aggregates, a metadata-path DV delete with removed-stats capture on
    // a ~9M-row fragment, AQE skew handling and a wide shuffle. The dataset
    // is reused across runs (delete it to regenerate).
    stage("lance1g") {
      val reps = math.max(1, mult * 6 / 5)
      val root = s"$out/lance1g_x$reps"
      val conf = spark.sessionState.newHadoopConf()
      if (!sources.lance.ManifestIO.loadLatest(root, conf).exists(_.version == 1L)) {
        org.apache.hadoop.fs.FileSystem.getLocal(conf)
          .delete(new org.apache.hadoop.fs.Path(root), true)
        // keys are original + replica·10^7: replica blocks never interleave
        timed(s"write ${reps}x lineitem as 8 range-clustered fragments") {
          spark.range(reps).crossJoin(Tables.t(spark, sfDir, "lineitem"))
            .withColumn("l_orderkey", col("l_orderkey") + col("id") * 10000000L).drop("id")
            .repartitionByRange(8, col("l_orderkey")).sortWithinPartitions("l_orderkey")
            .write.format("lance").save(root)
        }
      }
      val m = sources.lance.ManifestIO.loadLatest(root, conf).get
      val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
      val oversize = m.fragments.exists(_.sizeBytes > maxPart)
      val ds = spark.read.format("lance").load(root)
      val nParts = ds.select("l_quantity").rdd.getNumPartitions
      println(f"[soak]   fragments=${m.fragments.size} rows=${m.totalRows} " +
        f"bytes=${m.fragments.map(_.sizeBytes).sum / 1e9}%.2f GB " +
        s"scan partitions=$nParts (fragments over maxPartitionBytes: $oversize)")
      require(!oversize || nParts > m.fragments.size,
        "oversize fragments must split into byte ranges")
      // the first fragment's key range: the pruned scan reads just it, and
      // the delete removes a slice strictly inside it, so the fragment's
      // min/max survive and live stats still answer the aggregate after it
      val Seq(kMin, kMax) = {
        val st = m.fragments.head.stats("l_orderkey")
        Seq(st.min, st.max).map {
          case Some(org.json4s.JInt(v)) => v.toLong
          case Some(org.json4s.JLong(v)) => v
          case v => sys.error(s"no l_orderkey stat: $v")
        }
      }
      val lo = kMin + (kMax - kMin) / 3
      timed("full-scan aggregate") {
        val r = ds.agg(count(lit(1)), sum("l_quantity"), avg("l_extendedprice")).first()
        require(r.getLong(0) == m.totalRows, s"full-scan count ${r.getLong(0)} != ${m.totalRows}")
      }
      timed("range-pruned scan (one fragment's key range)") {
        val n = ds.filter(col("l_orderkey") >= kMin && col("l_orderkey") <= kMax).count()
        println(s"[soak]   pruned-range rows=$n")
      }
      // long sums only: double sums are order-dependent, never stats-answered
      def statsAgg(cols: org.apache.spark.sql.Column*): Long = {
        val q = spark.read.format("lance").load(root).agg(count(lit(1)), cols: _*)
        require(q.queryExecution.executedPlan.toString.contains("LanceStatsScan"),
          "aggregate fell back to a data scan")
        q.first().getLong(0)
      }
      timed("stats-answered aggregate (LanceStatsScan)") {
        statsAgg(min("l_orderkey"), max("l_orderkey"), sum("l_orderkey"))
      }
      timed("DV delete (key slice inside one fragment, removed-stats capture)") {
        sources.lance.LanceDelete.deleteWhere(spark, root, Array(org.apache.spark.sql.sources.And(
          org.apache.spark.sql.sources.GreaterThan("l_orderkey", lo),
          org.apache.spark.sql.sources.LessThan("l_orderkey", lo + math.min(300000L, (kMax - kMin) / 3)))),
          Map.empty)
      }
      val m2 = sources.lance.ManifestIO.loadLatest(root, conf).get
      val dvd = m2.fragments.filter(_.deletes.isDefined)
      println(s"[soak]   DV'd fragments=${dvd.size} deleted=${m.totalRows - m2.totalRows} rows, " +
        s"removed-stats cols=${dvd.headOption.map(_.deletes.get.removed.size).getOrElse(0)}")
      require(dvd.nonEmpty && m2.totalRows < m.totalRows, "delete removed nothing")
      timed("stats-answered aggregate AFTER delete (live stats)") {
        val n = statsAgg(count(col("l_quantity")), min("l_orderkey"), max("l_orderkey"))
        require(n == m2.totalRows, s"post-delete count $n != ${m2.totalRows}")
      }
      // AQE splits a skewed partition only above skewedPartitionThreshold
      // AND medianFactor × the median; a data-sized job sizes the
      // thresholds with its data, as here. 30% of probe rows hit one key.
      timed("skewed shuffle join under AQE (skew split active)") {
        withConf("spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val probe = ds.select(col("l_orderkey"), col("l_quantity"))
            .withColumn("k", when(pmod(col("l_orderkey"), lit(10)) < 3, lit(0L))
              .otherwise(pmod(col("l_orderkey"), lit(100000L))))
          val dim = spark.range(100000).select(col("id").as("k"), (col("id") * 2).as("w"))
          probe.join(dim, "k").agg(count(lit(1)), sum(col("l_quantity") + col("w"))).collect()
        }
      }
      timed("wide groupBy shuffle") {
        ds.groupBy(pmod(col("l_orderkey"), lit(1000)).as("b"))
          .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
          .agg(count(lit(1)), sum("n")).collect()
      }
    }

    // ---- decontamination at a FIXED benchmark, corpus ×1 → ×64 -----------
    // The deployment shape: eval sets are static while the crawl grows.
    // Per-corpus-row cost must stay flat (wall ~linear in corpus) and the
    // bench side must stay a broadcast at every scale (no plan flip to a
    // shuffle join). Replica ids shift by r·10^7, which keeps id % 20.
    stage("contamination") {
      val docs0 = Tables.t(spark, sfDir, "documents").select("doc_id", "text")
      val emb0 = Tables.t(spark, sfDir, "embeddings")
      val benchSh = operators.TextAnalysis.contaminationBench(docs0).localCheckpoint()
      val benchVec = operators.VectorSearch.semanticBench(emb0).localCheckpoint()
      def replicated(df: org.apache.spark.sql.DataFrame, id: String, x: Int) =
        df.filter(col(id) % 20 =!= 0).crossJoin(spark.range(x).select(col("id").as("r")))
          .withColumn(id, col(id) + col("r") * 10000000L).drop("r")
      for (x <- Iterator.iterate(1)(_ * 4).takeWhile(_ <= math.max(1, mult))) {
        val screens = Seq(
          ("ngram", operators.TextAnalysis.contaminationScreen(replicated(docs0, "doc_id", x), benchSh),
            "BroadcastHashJoin"),
          ("cosine", operators.VectorSearch.semanticScreen(replicated(emb0, "vec_id", x), benchVec),
            "BroadcastNestedLoopJoin"))
        for ((label, q, join) <- screens) {
          var n = 0L
          val t = Harness.secs { n = q.count() }
          val bcast = q.queryExecution.executedPlan.toString.contains(join)
          println(f"[soak]   $label%-6s x$x%2d  flagged=$n%7d  $t%6.2f s  broadcast=$bcast")
        }
      }
    }

    // Bucketed lance tables in a fresh catalog, (k, v) rows in 32 hash
    // buckets on k, plus staging views <cat>_f (`rows` rows) and <cat>_d
    // (rows / 2, even k) — the storage-partitioned join (SPJ) fixtures.
    def bucketedCatalog(cat: String, tables: Seq[String], rows: Long): String = {
      val wh = java.nio.file.Files.createTempDirectory(s"graft-soak-$cat-").toString
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[sources.lance.LanceCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      spark.sql(s"CREATE NAMESPACE $cat.db")
      tables.foreach { t => spark.sql(s"CREATE TABLE $cat.db.$t (k BIGINT, v BIGINT) " +
        s"TBLPROPERTIES('write.bucket-by'='k','write.bucket-count'='32')") }
      spark.range(rows).selectExpr("id AS k", "id * 7 AS v")
        .createOrReplaceTempView(s"${cat}_f")
      spark.range(rows / 2).selectExpr("id * 2 AS k", "id AS v")
        .createOrReplaceTempView(s"${cat}_d")
      wh
    }
    def joinSql(cat: String, fact: String) =
      s"SELECT count(*) AS n, sum(f.v + d.v) AS s FROM $cat.db.$fact f JOIN $cat.db.dim d ON f.k = d.k"

    // ---- SPJ: bucketed fact ⋈ dim with v2 bucketing ON (zero shuffle) vs
    // OFF (both sides shuffle); plans checked, results equal.
    stage("spj") {
      val wh = bucketedCatalog("spj", Seq("fact", "dim"), mult * 200000L)
      timed(s"write fact ${mult * 200000L} rows, 32 buckets") {
        spark.sql("INSERT INTO spj.db.fact SELECT * FROM spj_f")
      }
      timed(s"write dim ${mult * 100000L} rows, 32 buckets") {
        spark.sql("INSERT INTO spj.db.dim SELECT * FROM spj_d")
      }
      val mf = sources.lance.ManifestIO.loadLatest(s"$wh/db/fact", spark.sessionState.newHadoopConf()).get
      println(s"[soak]   fact fragments=${mf.fragments.size} " +
        s"MB=${mf.fragments.map(_.sizeBytes).sum >> 20} buckets=${mf.fragments.flatMap(_.bucket).distinct.size}")
      require(mf.fragments.forall(_.bucket.isDefined), "unbucketed fact fragment")
      val q = joinSql("spj", "fact")
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val shuffled = withConf("spark.sql.sources.v2.bucketing.enabled" -> "false") {
          timed("join WITHOUT SPJ (both sides shuffle)")(spark.sql(q).first())
        }
        withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
          val plan = spark.sql(q).queryExecution.executedPlan.toString
          require(!plan.contains("Exchange hashpartitioning(k"), s"SPJ plan still shuffles:\n$plan")
          val spj = timed("join WITH SPJ (zero shuffle)")(spark.sql(q).first())
          require(spj == shuffled, s"result mismatch: $spj vs $shuffled")
          println(s"[soak]   rows joined: ${spj.getLong(0)}")
        }
      }
    }

    // ---- sorted-run report on an SPJ: one fragment per bucket (the
    // maintained/compacted layout) reports its persisted sort, so the SMJ
    // plans NO Sort; two fragments per bucket (same rows, two inserts)
    // cannot, so Spark re-sorts both sides. Both joins are exchange-free;
    // the delta is the sort cost alone.
    stage("sortrep") {
      val buckets = 32
      val wh = bucketedCatalog("srt", Seq("fact1", "fact2", "dim"), mult * 600000L)
      timed("write fact1 (one insert -> 1 frag/bucket)") {
        spark.sql("INSERT INTO srt.db.fact1 SELECT * FROM srt_f")
      }
      timed("write fact2 (two inserts -> 2 frags/bucket)") {
        spark.sql("INSERT INTO srt.db.fact2 SELECT * FROM srt_f WHERE k % 2 = 0")
        spark.sql("INSERT INTO srt.db.fact2 SELECT * FROM srt_f WHERE k % 2 = 1")
      }
      timed("write dim")(spark.sql("INSERT INTO srt.db.dim SELECT * FROM srt_d"))
      val conf = spark.sessionState.newHadoopConf()
      val m1 = sources.lance.ManifestIO.loadLatest(s"$wh/db/fact1", conf).get
      require(m1.fragments.size == buckets && m1.fragments.forall(_.sortedBy == Seq("k")),
        s"fact1 layout: ${m1.fragments.size} fragments, sort stamps ${m1.fragments.map(_.sortedBy).distinct}")
      require(sources.lance.ManifestIO.loadLatest(s"$wh/db/fact2", conf).get
        .fragments.size == 2 * buckets, "fact2 layout")
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.sources.v2.bucketing.enabled" -> "true") {
        for ((fact, sorts) <- Seq("fact1" -> false, "fact2" -> true)) {
          val plan = spark.sql(joinSql("srt", fact)).queryExecution.executedPlan.toString
          require(!plan.contains("Exchange hashpartitioning(k"), s"$fact shuffles:\n$plan")
          require(plan.contains("Sort ") == sorts, s"$fact: expected sorts=$sorts:\n$plan")
        }
        // warm the page cache fairly, then measure each twice more
        for (r <- 1 to 3) {
          val a = timed(s"run $r: SPJ sort-FREE (1 frag/bucket)")(spark.sql(joinSql("srt", "fact1")).first())
          val b = timed(s"run $r: SPJ with sorts (2 frags/bucket)")(spark.sql(joinSql("srt", "fact2")).first())
          require(a == b, s"result mismatch: $a vs $b")
        }
      }
    }

    // ---- lineitem ×mult: TPC-H Q1 shape ----------------------------------
    stage("q1") {
      val liPath = soakTable("lineitem", mult)((df, _) => df)
      val li = spark.read.parquet(liPath)
      println(s"[soak] lineitem rows = ${li.count()}")
      timed("q1-style agg") {
        li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(round(col("l_quantity"), 0).cast("long")).as("sum_qty"),
            count(lit(1)).as("n"))
          .collect()
      }
    }

    // ---- embeddings ×mult: brute KNN + IVF probe search ------------------
    // labels rotate per replica: a pure ×mult copy would give every query
    // ~mult zero-distance SAME-label clones as its nearest neighbors, and
    // the label-mismatch filter of the negative-mining soak below would
    // (correctly) reject the whole oversample pool — vacuous, not real
    lazy val embPath = soakTable("embeddings", mult)((df, rep) =>
      df.withColumn("vec_id", col("vec_id") * mult + rep)
        .withColumn("label", pmod(col("label") + rep, lit(10)).cast("int")))
    lazy val emb = {
      val e = spark.read.parquet(embPath)
      println(s"[soak] embeddings rows = ${e.count()}")
      e
    }
    stage("knn") {
      val qv = emb.filter(col("vec_id") === 1L).select("embedding")
        .first().getSeq[Float](0).map(_.toDouble).toArray
      timed("brute knn cosine top-10") {
        val qvDf = Seq(Tuple1(qv.map(_.toFloat))).toDF("qv")
        emb.crossJoin(broadcast(qvDf))
          .select(col("vec_id"),
            round(graft.functions.vec_cosine(col("embedding"), col("qv")), 6).as("s"))
          .orderBy(col("s").desc, col("vec_id").asc).limit(10).collect()
      }
      val idxRoot = s"$out/ivf_x$mult"
      if (!new java.io.File(idxRoot).exists()) {
        timed("ivf build (64 cells)") {
          operators.IndexBuild.build(spark, emb, idxRoot,
            Map("index.type" -> "IVF_FLAT", "index.num-partitions" -> "64"))
        }
      }
      val idx = operators.IndexBuild.load(spark, idxRoot)
      timed("ivf search nprobes=4 (of 64)") {
        operators.IndexBuild.search(spark, idx, qv,
          Map("vector.nprobes" -> "4", "vector.k" -> "10"), excludeVecId = 1L).collect()
      }
      timed("ivf search nprobes=64 (exact)") {
        operators.IndexBuild.search(spark, idx, qv,
          Map("vector.nprobes" -> "64", "vector.k" -> "10"), excludeVecId = 1L).collect()
      }
    }

    lazy val pqIdx = {
      val pqRoot = s"$out/ivfpq_x$mult"
      if (!sources.lance.ManifestIO.exists(pqRoot, spark.sessionState.newHadoopConf())) {
        timed("ivf_pq build (64 cells)") {
          operators.IndexBuild.build(spark, emb, pqRoot,
            Map("index.type" -> "IVF_PQ", "index.num-partitions" -> "64"))
        }
      }
      operators.IndexBuild.load(spark, pqRoot)
    }

    // ---- hard-negative mining at soak scale ------------------------------
    // The full-matrix mining path (knnNegativesMined/Pq) over the ×mult
    // corpus with realistic partial probes: ~1/100 of vectors as queries,
    // k=5 with 4× oversampling, nprobes=8 of 64. Measured: wall time per
    // route, task skew (max/mean task run time per stage — the straggler
    // bound), and recall vs the exact window form on a query subsample.
    stage("negatives") {
      val negQ = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id"), col("embedding"), col("label"))
      val labels = emb.select(col("vec_id"), col("label"))
      println(s"[soak] mining queries = ${negQ.count()}")
      def skewReport(route: String, mark: Int): Unit = {
        // only stages with real parallelism and non-trivial per-task work
        // have meaningful straggler ratios: sub-half-second means put
        // scheduler/GC jitter at the same magnitude as the "skew"
        val worst = cap.stagesAfter(mark).filter(s => s.tasks >= 8 && s.meanTaskMs >= 500)
          .map(s => (s.id, s.maxTaskMs.toDouble / s.meanTaskMs, s.tasks))
          .sortBy(-_._2).take(3)
        println(s"[soak]   $route task skew (max/mean, stages with >=0.5s mean): " +
          (if (worst.isEmpty) "none heavy enough to measure"
           else worst.map { case (sid, r, n) => f"stage$sid=$r%.2f($n tasks)" }.mkString(", ")))
        worst.headOption.foreach { case (_, r, _) =>
          require(r <= 2.0, f"$route straggler: max/mean task time $r%.2f > 2x")
        }
      }
      val floatMark = cap.mark
      val mined = timed("negatives mined float nprobes=8/64") {
        operators.VectorSearch.knnNegativesMined(spark, negQ, emb,
          k = 5, over = 4, cells = 64, nprobes = 8).localCheckpoint(true)
      }
      println(s"[soak]   mined rows = ${mined.count()}")
      skewReport("float-route", floatMark)

      // recall vs the exact window form on a ~1/20 query subsample
      val subQ = negQ.filter(col("vec_id") % 2000 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("label").as("q_label"))
      val byQ = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("dist").asc, col("n_id").asc)
      val exact = emb.crossJoin(broadcast(subQ))
        .filter(col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(graft.functions.vec_l2(col("embedding"), col("qv")), 6).as("dist"))
        .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= 5)
        .select("q_id", "n_id").localCheckpoint(true)
      val nExact = exact.count()
      val hit = exact.join(mined.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_semi").count()
      val recall = hit.toDouble / nExact
      println(f"[soak]   float-route recall@5 vs exact = $recall%.3f ($hit/$nExact)")
      require(recall >= 0.8, f"mined-negatives recall $recall%.3f < 0.8")

      // the memory-bound PQ route: u8 codes in the cell join, ADC + refine
      val idx = pqIdx
      val pqMark = cap.mark
      val minedPq = timed("negatives mined PQ-ADC nprobes=8/64") {
        operators.VectorSearch.knnNegativesMinedPq(spark, negQ, idx, labels,
          k = 5, over = 4, nprobes = 8).localCheckpoint(true)
      }
      println(s"[soak]   PQ mined rows = ${minedPq.count()}")
      skewReport("pq-route", pqMark)
      val hitPq = exact.join(minedPq.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_semi").count()
      val recallPq = hitPq.toDouble / nExact
      println(f"[soak]   pq-route recall@5 vs exact = $recallPq%.3f ($hitPq/$nExact)")
      require(recallPq >= 0.8, f"PQ mined-negatives recall $recallPq%.3f < 0.8")
    }

    // ---- documents ×mult/8: bucket-bounded near-dup ----------------------
    val dmult = math.max(2, mult / 8)
    lazy val docPath = soakTable("documents", dmult)((df, rep) =>
      df.withColumn("doc_id", col("doc_id") * dmult + rep)
        .withColumn("text", concat(col("text"), lit(" r"), rep)))
    stage("dedup") {
      println(s"[soak] documents rows = ${spark.read.parquet(docPath).count()}")
      timed("exact dedup (sha2 groupBy)")(keyOver("dedup_exact", "documents" -> docPath))
      val n = timed("minhash-LSH near-dup pairs")(keyOver("dedup_minhash_lsh", "documents" -> docPath))
      println(s"[soak]   verified pairs = $n")
    }

    // ---- streaming near-dedup: per-batch cost vs growing history ---------
    // 8 micro-batches over the ×dmult corpus; the bucketed state + batch-
    // keyed semi-join should keep per-batch PROBE cost ~flat while
    // accumulated history grows 0 → 7/8 of the corpus. Two honest caveats
    // on what "flat" can mean here: (a) every batch's band keys cover all
    // state buckets at this corpus shape (buckets default to cluster
    // parallelism), so the history scan is unpruned — with production
    // bucket counts and trigger-sized batches the scan prunes too;
    // (b) the replica corpus gives EVERY doc ~dmult-1
    // true near-dups, so later batches legitimately discover and verify
    // more cross-batch pairs (output grows ∝ history) — measured growth
    // includes that real work, which a rare-dup production corpus lacks.
    stage("near_stream") {
      timed("streaming near-dedup 8 micro-batches") {
        val corpusDir = s"$out/sndd-corpus"
        new java.io.File(corpusDir).mkdirs()
        val link = java.nio.file.Paths.get(corpusDir, "documents.parquet")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(link,
            java.nio.file.Paths.get(docPath))
        val p0 = cap.progress.size
        val keysT = s"$out/sndd-keys-${System.nanoTime()}/t"
        val setsT = s"$out/sndd-sets-${System.nanoTime()}/t"
        val pairs = operators.StreamingOps
          .streamNearDedupAt(spark, corpusDir, keysT, setsT, srcParts = 8)
          .count()
        val bs = batchesSince(p0)
        bs.foreach { case (id, rows, sec) =>
          println(f"[soak]   batch $id: $rows rows in $sec%.2f s") }
        println(s"[soak]   verified pairs = $pairs")
        // the last data batch probes ~7/8 of the corpus as history
        flatBatches(bs)
      }
    }

    // ---- streaming exact dedup: per-batch sink delta ∝ batch -------------
    // 8 micro-batches over the ×dmult corpus through the incremental
    // (update-mode, delta-append) path: every batch must append only the
    // hash groups it touched — the complete-mode rewrite this replaced
    // would write the full accumulated distinct-hash state every batch
    // (history-sized on the last one).
    stage("exact_stream") {
      timed("streaming exact dedup 8 micro-batches") {
        val sdocs = spark.read.parquet(docPath).select("doc_id", "text")
        val state = s"$out/sdedup-state-${System.nanoTime()}/t"
        val appended = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val merged = operators.StreamingOps.streamDedupAt(spark, sdocs, state,
          srcParts = 8,
          onBatch = (bid, n) => appended.synchronized { appended += ((bid, n)) })
        val total = merged.count()
        val per = appended.synchronized(appended.sortBy(_._1).map(_._2).toList)
        println(s"[soak]   distinct hashes = $total; delta rows/batch = $per")
        require(per.max < total / 2,
          s"a sink delta grew history-sized: max=${per.max} of $total")
      }
    }

    // ---- lance DML at scale: DV delete / bloom lookup / CDC --------------
    // orders ×mult as a lance dataset (fragmented), then: a positional
    // delete touching ~10% of rows must write ONLY sidecars (zero fragment
    // rewrites); an equality point-lookup must scan ~1 fragment (bloom);
    // the change feed must stream the delete as exactly the deleted rows.
    stage("lance_dml") {
      val lanceRoot = s"$out/orders_lance_x$mult"
      val conf = spark.sessionState.newHadoopConf()
      if (!sources.lance.ManifestIO.exists(lanceRoot, conf)) {
        val base = Tables.t(spark, sfDir, "orders")
        timed(s"lance write orders x$mult") {
          base.crossJoin(spark.range(mult).toDF("rep"))
            .withColumn("o_orderkey", col("o_orderkey") * mult + col("rep"))
            .drop("rep")
            .repartition(64)
            .write.format("lance").option("maxRowsPerFile", "500000").save(lanceRoot)
        }
      }
      val m0 = sources.lance.ManifestIO.loadLatest(lanceRoot, conf).get
      println(s"[soak] lance orders rows = ${m0.totalRows} fragments = ${m0.fragments.size}")
      val cut = spark.read.format("lance").load(lanceRoot)
        .stat.approxQuantile("o_orderkey", Array(0.1), 0.001)(0).toLong
      timed("DV delete ~10% of rows") {
        sources.lance.LanceDelete.deleteWhere(spark, lanceRoot,
          Array(org.apache.spark.sql.sources.LessThan("o_orderkey", cut)), Map.empty)
      }
      val m1 = sources.lance.ManifestIO.loadLatest(lanceRoot, conf).get
      val survivors = m1.fragments.map(_.path).toSet
      require(survivors.subsetOf(m0.fragments.map(_.path).toSet),
        "DV delete must rewrite zero fragments")
      println(s"[soak]   rows ${m0.totalRows} -> ${m1.totalRows}; " +
        s"fragments with DVs = ${m1.fragments.count(_.deletes.isDefined)}; dropped = " +
        s"${m0.fragments.size - m1.fragments.size}; zero rewrites")
      timed("post-delete full count") {
        println(s"[soak]   count = ${spark.read.format("lance").load(lanceRoot).count()}")
      }
      val probeKey = m1.totalRows / 2 // a mid-range surviving key
      timed("bloom point lookup (1 key)") {
        val hitDf = spark.read.format("lance").load(lanceRoot)
          .filter(col("o_orderkey") === probeKey)
        val plan = hitDf.queryExecution.executedPlan.toString
        val mm = "fragments=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).get
        println(s"[soak]   rows=${hitDf.count()} scanned ${mm.group(1)}/${mm.group(2)} fragments")
      }
      timed("CDC feed of the delete step") {
        val stream = new sources.lance.LanceMicroBatchStream(spark, lanceRoot,
          m1.schema, m1.schema.add("_change_type", "string"),
          Map("read.change-feed" -> "true"))
        val parts = stream.planInputPartitions(
          sources.lance.LanceOffset(m0.version), sources.lance.LanceOffset(m1.version))
        val factory = stream.createReaderFactory()
        val deleted = spark.sparkContext
          .parallelize(parts.toSeq.map(_.asInstanceOf[sources.lance.LanceInputPartition]),
            math.max(1, parts.length))
          .map { p =>
            val r = factory.createReader(p)
            var n = 0L
            while (r.next()) n += 1
            n
          }.sum()
        println(s"[soak]   delete rows streamed = ${deleted.toLong} " +
          s"(expected ${m0.totalRows - m1.totalRows})")
        require(deleted.toLong == m0.totalRows - m1.totalRows)
      }

      // ---- incremental MV maintenance over the delete: fold the delta feed
      // into the snapshot aggregate and compare against a full recompute —
      // the maintenance read is ~10% of the base (the deleted rows), the
      // merge is |groups|-sized.
      timed("CDC-maintained aggregate (O(delta) refresh)") {
        val base = spark.read.format("lance")
          .option("versionAsOf", m0.version.toString).load(lanceRoot)
        val mv0 = base.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100, 0).cast("long")).as("s"))
        val deltas = spark.read.format("lance")
          .option("read.change-feed", "true")
          .option("read.start-version", (m0.version + 1).toString)
          .option("read.end-version", m1.version.toString)
          .load(lanceRoot)
          .select(col("o_orderpriority"),
            when(col("_change_type") === "insert", 1L).otherwise(-1L).as("sgn"),
            round(col("o_totalprice") * 100, 0).cast("long").as("c"))
          .groupBy("o_orderpriority")
          .agg(sum("sgn").as("dn"), sum(col("sgn") * col("c")).as("ds"))
        val merged = mv0.join(deltas, Seq("o_orderpriority"), "full_outer")
          .select(col("o_orderpriority"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
            (coalesce(col("s"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"))
          .filter(col("n") > 0)
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val recomputed = spark.read.format("lance")
          .option("versionAsOf", m1.version.toString).load(lanceRoot)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100, 0).cast("long")).as("s"))
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        require(merged == recomputed, "MV merge != recompute")
        println(s"[soak]   groups=${merged.size} merged == recomputed over " +
          s"${m1.totalRows} live rows")
      }
    }
    // ---- LLM-pipeline keys at scale --------------------------------------
    // dedup_clusters on a synthesized 10M-node near-dup graph: 5M two-node
    // components + one 100k-node chain. The chain has diameter 100k —
    // plain min-label propagation would need 100k rounds; the pointer-
    // doubling shortcut must converge within the 20-round cap.
    stage("clusters") {
      timed("dedup_clusters 10M nodes") {
        val half = 5000000L
        val pairDf = spark.range(half)
          .select((col("id") * 2).as("a_id"), (col("id") * 2 + 1).as("b_id"))
        val chain = spark.range(100000L)
          .select((lit(2 * half) + col("id")).as("a_id"),
            (lit(2 * half) + col("id") + 1).as("b_id"))
        val (labels, rounds) = operators.Dedup.clusterLabels(spark, pairDf.union(chain))
        val nComp = labels.select(count_distinct(col("lbl"))).first().getLong(0)
        println(s"[soak]   components=$nComp (expected ${half + 1}) rounds=$rounds")
        require(nComp == half + 1, s"component count off: $nComp")
        require(rounds <= 20, s"did not converge under the cap: $rounds")
      }
    }

    // text_pack over documents ×mult with the shard count DERIVED from the
    // cluster (no constant): window state spreads over every core. The
    // replica carries only (doc_id, n_tokens) — the scale cost under test
    // is the prefix-sum window + groupBy, not tokenization.
    stage("pack") {
      val tokCounts = Tables.t(spark, sfDir, "documents")
        .select(col("doc_id"), size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      val docsBig = tokCounts.crossJoin(spark.range(mult).toDF("rep"))
        .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"), col("n_tokens"))
        .localCheckpoint(true)
      println(s"[soak] pack inputs = ${docsBig.count()}")
      timed("text_pack derived shards") {
        val packed = operators.TextAnalysis.pack(spark, docsBig)
        val shards = packed.agg(count_distinct(col("shard")),
          sum("n_docs").cast("long")).first()
        println(s"[soak]   shards=${shards.getLong(0)} " +
          s"(defaultParallelism=${spark.sparkContext.defaultParallelism}) " +
          s"docs=${shards.getLong(1)}")
      }
    }

    // text_crossdup over documents ×mult — a FULL ×mult replica (unlike the
    // near-dup sections' ×dmult): replica suffixes keep texts unique but
    // 3-grams shared across replicas, so the common-gram set is dense — the
    // worst case for the semi-join stage. Staged to expose where the time
    // goes: (1) the one unavoidable full-stream shuffle (gram groupBy for
    // the nd counts), (2) the semi-join against the common grams + per-doc
    // re-aggregation, (3) the final doc-keyed join.
    lazy val docTextPath = soakTable("documents", mult)((df, rep) =>
      df.withColumn("doc_id", col("doc_id") * mult + rep)
        .withColumn("text", concat(col("text"), lit(" r"), rep)))
    lazy val docsText = {
      val d = spark.read.parquet(docTextPath)
      println(s"[soak] text-soak documents rows = ${d.count()}")
      d
    }
    stage("crossdup") {
      timed("text_crossdup: total") {
        val grams = docsText
          .select(col("doc_id"), graft.operators.TextAnalysis.tokens.as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), array_distinct(expr(
            "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"))
            .as("gs"))
          .localCheckpoint(true) // isolate tokenization from the stages under test
        val pairs = grams.select(col("doc_id"), explode(col("gs")).as("g"))
        timed("  stage 1: gram groupBy (nd)") {
          val common = pairs.groupBy("g")
            .agg(count_distinct(col("doc_id")).as("nd"))
            .filter(col("nd") >= 6).select("g")
            .localCheckpoint(true)
          println(s"[soak]   common grams = ${common.count()}")
          timed("  stage 2: semi-join + doc agg") {
            val nCommon = pairs.join(common, Seq("g"), "left_semi")
              .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
              .localCheckpoint(true)
            println(s"[soak]   docs with common grams = ${nCommon.count()}")
            timed("  stage 3: doc-keyed join") {
              val res = grams.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
                .join(nCommon, Seq("doc_id"), "left")
                .agg(count(lit(1)), sum(coalesce(col("n_common"), lit(0L))))
                .first()
              println(s"[soak]   docs=${res.getLong(0)} common-gram hits=${res.getLong(1)}")
            }
          }
        }
      }
    }

    // text_chunk over documents ×mult: one builtin-only map stage —
    // should scale linearly with input splits, zero shuffle
    stage("chunk") {
      val n = timed("text_chunk map-only")(keyOver("text_chunk", "documents" -> docTextPath))
      println(s"[soak]   chunks=$n")
    }

    // dedup_substring over documents ×mult — the ADVERSARIAL case: every
    // window is shared across ~mult replicas, so the duplicated-window
    // set is the ENTIRE window vocabulary and the "tiny broadcastable hit
    // slice" assumption inverts (hits == the whole stream, coverage window
    // runs over every row). A real corpus sits far below this bound.
    stage("substring") {
      timed("dedup_substring: total (worst case, all windows shared)") {
        val n = 8
        val base = docsText
          .select(col("doc_id"), graft.operators.TextAnalysis.tokens.as("w"))
          .filter(size(col("w")) >= n)
          .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"), expr(
            s"transform(sequence(1, size(w) - ${n - 1}), i -> concat_ws(' ', slice(w, i, $n)))")
            .as("gs"))
          .localCheckpoint(true) // isolate tokenization from the stages under test
        val wins = base.select(col("doc_id"), posexplode(col("gs"))).toDF("doc_id", "pos", "g")
        timed("  stage 1: window groupBy (nd)") {
          val dup = wins.groupBy("g").agg(count_distinct(col("doc_id")).as("nd"))
            .filter(col("nd") >= 2).select("g").localCheckpoint(true)
          println(s"[soak]   duplicated windows = ${dup.count()}")
          timed("  stage 2: hit semi-join + interval-merge window") {
            val byPos = org.apache.spark.sql.expressions.Window
              .partitionBy("doc_id").orderBy("pos")
            val covered = wins.join(dup, Seq("g"), "left_semi")
              .select(col("doc_id"), col("pos"))
              .withColumn("gap", col("pos") - lag("pos", 1).over(byPos))
              .groupBy("doc_id")
              .agg(sum(when(col("gap").isNull, lit(n.toLong))
                .otherwise(least(col("gap"), lit(n.toLong)))).as("dup_tokens"))
            val res = base.select("doc_id", "n_tokens")
              .join(covered, Seq("doc_id"), "left")
              .agg(count(lit(1)), sum(coalesce(col("dup_tokens"), lit(0L)))).first()
            println(s"[soak]   docs=${res.getLong(0)} covered-tokens=${res.getLong(1)}")
          }
        }
      }
    }

    // text_commonness over documents ×mult — replication multiplies every
    // corpus count by ~mult, so the WHOLE dictionary crosses the head
    // threshold and the tail join goes empty: the broadcast absorbs 100%
    // of the stream (the design's skew-free fast path at its extreme).
    stage("commonness") {
      val n = timed("text_commonness: dictionary + head/tail join") {
        keyOver("text_commonness", "documents" -> docTextPath)
      }
      println(s"[soak]   docs=$n")
    }

    // distributed KNN join: ~2k query rows against the ×mult corpus,
    // cell-blocked (candidates per query ≈ corpus × probes/cells, never
    // corpus × queries) — the batch retrieval shape
    stage("knn_join") {
      timed("knn join ~2k queries x corpus (64 cells, 8 probes)") {
        val qs = emb.filter(col("vec_id") % 100 === 0)
        val out = operators.VectorSearch.knnJoin(spark, qs, emb,
          "vec_id", "vec_id", "embedding", k = 10, cells = 64, nprobes = 8)
        println(s"[soak]   result rows = ${out.count()}")
      }
    }

    // ADC batch retrieval at scale: the same ~2k-query join through a
    // persisted IVF_PQ index — u8 codes ride the cell join instead of
    // float vectors (dim floats -> M bytes per candidate), ADC ranks,
    // k x refine survivors re-rank exact. Times both paths on identical
    // probes and reports the ADC path's recall vs the float-vector join.
    stage("adc_join") {
      val qs2 = emb.filter(col("vec_id") % 100 === 0)
      val floatTop = timed("knn join (float vectors, persisted idx, 8 probes)") {
        val r = operators.VectorSearch.knnJoin(spark, qs2, pqIdx,
          "vec_id", k = 10, metric = "l2", nprobes = 8, excludeSelf = true, cIdCol = "vec_id")
          .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        println(s"[soak]   result rows = ${r.length}")
        r.toSet
      }
      val adcTop = timed("knn join (ADC codes, 8 probes, refine 4)") {
        val r = operators.VectorSearch.knnJoinPq(spark, qs2, pqIdx,
          "vec_id", k = 10, nprobes = 8, refine = 4)
          .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        println(s"[soak]   result rows = ${r.length}")
        r.toSet
      }
      println(f"[soak]   ADC recall vs float join = ${
        adcTop.intersect(floatTop).size.toDouble / floatTop.size}%.4f")
    }

    // emb_quantize throughput: pure map-side higher-order functions —
    // should scale linearly with rows, no shuffle
    stage("quantize") {
      val n = timed("emb_quantize")(keyOver("emb_quantize", "embeddings" -> embPath))
      println(s"[soak]   vectors=$n")
    }

    // ---- knn_hamming over the ×mult embeddings: the 1-bit first-pass
    // sweep. The packed form is materialized ONCE (8 bytes/vector vs 256
    // for 64-dim float32) — the steady-state candidate sweep then scans
    // packed words with one XOR+popcount per 64 dims, and should run well
    // under the float cosine sweep timed above on the same corpus.
    stage("hamming") {
      val packedPath = s"$out/packed_x$mult.parquet"
      if (!new java.io.File(packedPath).exists()) {
        timed("bit_pack_sign materialize") {
          emb.select(col("vec_id"),
              graft.functions.bit_pack_sign(col("embedding")).as("bv"))
            .write.mode("overwrite").parquet(packedPath)
        }
      }
      val packedEmb = spark.read.parquet(packedPath)
      val qbv = packedEmb.filter(col("vec_id") === 1L).select(col("bv").as("qbv"))
      timed("knn hamming top-10 (1-bit sweep)") {
        packedEmb.crossJoin(broadcast(qbv))
          .select(col("vec_id"),
            graft.functions.hamming_dist(col("bv"), col("qbv")).as("d"))
          .orderBy(col("d").asc, col("vec_id").asc).limit(10).collect()
      }
    }

    // ---- text_lm_score over the full-text ×mult documents: LM training
    // is charset²-bounded (one tiny shuffle) and the model broadcasts to
    // the per-bigram scoring join — cost should be ∝ total characters.
    stage("lm_score") {
      val n = timed("text_lm_score: bigram LM train + score") {
        keyOver("text_lm_score", "documents" -> docTextPath)
      }
      println(s"[soak]   docs scored=$n")
    }

    // ---- text_keywords over the ×mult documents: one (doc,term) shuffle,
    // vocabulary-sized df join, pre-shuffle top-k heap
    stage("keywords") {
      val n = timed("text_keywords tf-idf top-3")(keyOver("text_keywords", "documents" -> docTextPath))
      println(s"[soak]   keyword rows=$n")
    }

    // ---- bpe_train over the ×mult documents: the histogram is the only
    // O(corpus) stage; replication multiplies counts but NOT distinct
    // pretokens, so the collected table (and the merge-learning loop) stay
    // constant-size — exactly the design claim for 100 TB.
    stage("bpe") {
      timed("bpe_train: pretoken histogram + 48 merges") {
        val merges = operators.BpeTrainer.train(spark, docsText, 48)
        val n = merges.count()
        val distinctWords = operators.BpeTrainer
          .pretokenHistogram(spark, docsText).count()
        println(s"[soak]   merges=$n distinct-pretokens=$distinctWords")
      }
    }

    // ---- text_quality_classifier over the ×mult documents: threshold
    // histogram and (label, bucket) model table are bounded regardless of
    // corpus size; scoring is the map-only literal-weights fold.
    stage("nb_classifier") {
      timed("text_quality_classifier: NB train + score") {
        val scored = operators.QualityClassifier.runOn(spark,
          docsText.withColumn("w", operators.TextAnalysis.tokens))
        val r = scored.agg(count(lit(1)).as("n"),
          sum(when(col("nb_label"), 1L).otherwise(0L)).as("n_pos")).first()
        println(s"[soak]   docs=${r.getLong(0)} predicted-pos=${r.getLong(1)}")
      }
    }

    // ---- interval self-join on events ×mult with REMAPPED users (the
    // per-batch plan shape of q_stream_join): fresh user ids per replica
    // keep per-key density constant, so matched pairs grow ∝ corpus — a
    // shared-id replication would grow them ∝ corpus² and time the blowup,
    // not the operator.
    stage("interval_join") {
      val evPath = soakTable("events", mult)((df, rep) =>
        df.withColumn("user_id", col("user_id") * mult + rep)
          .withColumn("event_id", col("event_id") * mult + rep))
      timed("interval join views->purchases (1h window)") {
        val ev = spark.read.parquet(evPath)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts").cast("timestamp").as("ts"))
        val n = ev.as("a").join(ev.as("b"),
            expr("a.user_id = b.user_id AND a.event_type = 'view'" +
              " AND b.event_type = 'purchase'" +
              " AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR"))
          .count()
        println(s"[soak]   matched pairs=$n")
      }
    }

    spark.stop()
  }
}
