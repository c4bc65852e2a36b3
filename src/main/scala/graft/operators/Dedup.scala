package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.{one_perm_minhash, simhash}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the LLM-training-pipeline
  * suite: exact (hash groupBy), MinHash+LSH, SimHash, n-gram Jaccard and
  * embedding-cosine near-dup.
  *
  * Scale design (the part that decides 100 TB viability): every near-dup
  * operator is *bucket-bounded* — candidates only ever meet inside an LSH
  * band bucket, a simhash band bucket, a (lang, length-band) block, or a
  * cluster-label block. There is no all-pairs join anywhere; each bucket
  * join is an equi-join Spark shuffles on the bucket key, and pathological
  * buckets are capped (skew guard) before the self-join.
  */
object Dedup extends QueryModule {
  import Tables._

  /** Whitespace tokens, empties dropped (same def as TextAnalysis/oracle). */
  private val toksCol: Column =
    filter(split(col("text"), "\\s+"), x => x =!= "")

  /** Sorted-distinct hashed 3-word shingle sets (single-pass expression);
    * docs with < 3 words have no shingles and are excluded, matching the
    * oracle's `len(w) >= 3` guard. */
  private def docsWithShingles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("sh", graft.functions.shingle_hashes(col("text"), 3))
      .filter(size(col("sh")) > 0)

  // ---- dedup_exact -------------------------------------------------------
  // Exact dedup via content-hash groupBy: one shuffle on the 256-bit hash
  // (uniform keys — no skew), map-side partial agg. At 100 TB this is the
  // canonical first pass.
  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "h")
      .orderBy("keep_id")

  // ---- dedup_minhash_lsh -------------------------------------------------
  // shingle → 128-hash MinHash signature (native Catalyst expression) →
  // 32 bands × 4 rows → posexplode to (band, key) → bucket self-join →
  // exact-Jaccard verify at τ=0.8. With r=4,b=32 the recall at j>=0.8 is
  // 1 - (1 - 0.8^4)^32 ≈ 1 - 5e-8, so the verified output equals the
  // all-pairs oracle. Buckets capped at 100 docs (a true near-dup pair
  // collides in ~all 32 bands, so dropping a mega-bucket keeps recall).
  private val MinhashHashes = 128
  private val Bands = 32
  private val RowsPerBand = 4
  private val JaccardTau = 0.8
  private[operators] val BucketCap = 100
  /** Tier-1 block cap for the two-tier n-gram dedup: an efficiency
    * crossover, not a correctness guard — a block over this size escalates
    * to the LSH tier (which is itself [[BucketCap]]-bounded) instead of
    * paying the cap²/2 in-block quadratic budget. */
  private[operators] val BlockCap = 512

  /** (doc_id, band_idx, band_key) LSH band keys — the shared map stage of
    * the batch and streaming near-dedup paths: shingles → 128-slot
    * one-permutation MinHash signature → 32 band keys. r15: the k-hash
    * signature (128 modular multiplies per shingle) and the interpreted
    * hash(slice(...)) band chain are replaced by [[graft.functions.OnePermMinHash]]
    * (one mix per shingle, optimal-densified — same banding recall
    * guarantees) and the native [[graft.functions.LshBands]] generator;
    * the exact-Jaccard verify still decides, so the pair set is
    * unchanged. Pure projection; callers pick partitioning. */
  private[graft] def bandKeys(docs: DataFrame): DataFrame = shingleBandKeys(shingleSets(docs))

  /** [[bandKeys]] of (doc_id, sh) shingle sets ([[shingleSets]]): the
    * MinHash + banding half, a projection, so a caller holding the sets
    * derives the band keys without a second pass over the texts. */
  private[graft] def shingleBandKeys(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), one_perm_minhash(col("sh"), MinhashHashes, 42L).as("sig"))
      .select(col("doc_id"), graft.functions.lsh_bands(col("sig"), Bands, RowsPerBand))
      .select(col("doc_id"), col("band_idx"), col("band_key"))

  /** (doc_id, sh) sorted-distinct shingle-hash sets for exact-Jaccard
    * verification — same definition the oracle reproduces as string sets. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.shingle_hashes(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Exact-Jaccard verify of candidate (a_id, b_id) pairs against shingle
    * sets, keeping pairs at or above tau. `sets` is only consulted for
    * candidate docs — callers semi-join/shrink it first if it is wide. */
  private[graft] def verifyJaccard(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
      .withColumn("jaccard", graft.functions.sorted_jaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= JaccardTau)
      .select("a_id", "b_id", "jaccard")

  /** Session-scoped memo of the verified LSH pairs per corpus dir: four
    * operators consume the same pair set (dedup_minhash_lsh, dedup_clusters,
    * dedup_canonical via clusterLabels, sample_split_leakfree,
    * pipeline_clean) and recomputing the minhash pass for each tripled the
    * most expensive stage of the pipeline. The pair set is tiny (near-dup
    * pairs only), so one eager localCheckpoint pins it in block-manager
    * memory and every later consumer starts from materialized blocks. The
    * testdata dirs are immutable per run, so (session, dir) is a sound key.
    * Keyed by sessionUUID (collision-free — an identity hash can be reused
    * after a stopped session is GC'd and would serve a DataFrame bound to a
    * dead session); entries whose owning context has stopped are purged on
    * every access, so a long-lived multi-session JVM doesn't accumulate
    * dead entries (their checkpoint blocks died with the context). */
  private val lshPairsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  private[graft] def lshPairs(s: SparkSession, dir: String): DataFrame = {
    lshPairsCache.entrySet().removeIf(e => e.getValue.sparkSession.sparkContext.isStopped)
    lshPairsCache.computeIfAbsent((org.apache.spark.sql.graft.Shim.sessionUUID(s), dir),
      _ => computeMinhashLshPairs(s, dir).localCheckpoint())
  }

  private def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    lshPairs(s, dir).orderBy("a_id", "b_id")

  private def computeMinhashLshPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsFor(t(s, dir, "documents").select(col("doc_id"), col("text")))

  /** Verified MinHash-LSH near-dup pairs (a_id, b_id, jaccard) over an
    * arbitrary (doc_id, text) frame — the gated key's exact machinery,
    * factored so `CALL system.dedup` serves procedure inputs through the
    * same plan (r20). ONE map pass — shingles → 128-hash signature → 32
    * band keys — then ONE shuffle that both groups the buckets and guards
    * skew: capped_sorted_list bounds its own aggregation state at cap+1
    * and NULLs out overflowing buckets, so a degenerate band key (every
    * near-identical doc in one bucket) neither grows executor memory nor
    * becomes a straggler. Dropping a mega-bucket is recall-safe: a true
    * near-dup pair collides in ~all 32 bands. The map stage is
    * repartitioned first because the expensive work (minhash over every
    * shingle) is compute-bound — a coarse source split (one small parquet
    * file locally; an unsplittable blob at scale) would serialize it. */
  private[graft] def minhashPairsFor(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val cand = bandKeys(docs
        .select(col("doc_id"), col("text"))
        .repartition(s.sessionState.conf.numShufflePartitions))
      .groupBy("band_idx", "band_key")
      .agg(graft.functions.capped_sorted_list(col("doc_id"), BucketCap).as("ids"))
      // NULL = overflowed mega-bucket; pair fan-out is bounded by cap²/2
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(graft.functions.sorted_list_pairs(col("ids")))
      .distinct()
    // verify with exact Jaccard: shingle sets are recomputed only for
    // candidate docs (the semi-join filters BEFORE the shingle projection);
    // cand is tiny after distinct, so AQE broadcasts it into both joins
    val sets = shingleSets(docs
      .join(cand.select(col("a_id").as("doc_id"))
        .union(cand.select(col("b_id").as("doc_id"))).distinct(),
        Seq("doc_id"), "left_semi"))
    verifyJaccard(cand, sets)
  }

  // ---- dedup_clusters ----------------------------------------------------
  // Near-dup CLUSTERING: the step after pair generation that large-scale
  // dedup actually needs — A~B and B~C must collapse to ONE kept document
  // even when A~C was never scored. Connected components over the verified
  // LSH pairs by iterative min-label propagation: each round every node
  // takes the min of its own and its neighbors' labels; rounds needed =
  // graph diameter (near-dup clusters are shallow — a handful). The edge
  // set is tiny relative to the corpus (only near-dup pairs survive), so
  // each round is a small join + groupBy; labels are eagerly
  // localCheckpoint'ed so the loop's lineage stays flat. Canonical doc =
  // min doc_id per component, the industry-standard tie-break.
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val labels = closeLabelsAdaptive(s, lshPairs(s, dir).select("a_id", "b_id"))
    labels
      .groupBy(col("lbl").as("keep_id"))
      .agg(count(lit(1)).as("n_docs"), sum("node").cast("long").as("sum_ids"))
      .orderBy("keep_id")
  }

  /** Connected-component labels over a near-dup pair set (a_id, b_id):
    * returns ((node, lbl) — lbl = min doc_id of the component) and the
    * rounds taken to converge. Exposed for the scale soak, which runs it
    * over synthesized 10M-node edge sets. */
  def clusterLabels(s: SparkSession, pairs: DataFrame): (DataFrame, Int) = {
    // SERIALIZED, evictable checkpoint storage: the default deserialized
    // MEMORY_AND_DISK keeps each partition as a row-object array (~70 B/
    // edge — the family soak's 213M-edge set came to ~15 GB of unevictable
    // arrays and starved 32 concurrent sort tasks to a measured
    // UNABLE_TO_ACQUIRE_MEMORY); serialized blocks are ~3x smaller and
    // spill to disk under pressure instead of wedging execution
    val ckptLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val edges = CheckpointTracker.ckpt(pairs
      .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id"))),
      eager = true, level = ckptLevel)
    var labels = CheckpointTracker.ckpt(
      edges.select(col("a_id").as("node")).distinct()
        .withColumn("lbl", col("node")),
      eager = true, level = ckptLevel)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 20) {
      val nbrMin = edges
        .join(labels.select(col("node").as("b_id"), col("lbl").as("nlbl")), "b_id")
        .groupBy(col("a_id").as("node")).agg(min("nlbl").as("cand"))
      val prop = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("cand"), col("lbl"))).as("lbl"))
      // pointer-doubling shortcut: follow each label to ITS OWN label
      // (every label is a node id, so it has one), halving label-chain
      // lengths per round — convergence is O(log diameter), so even an
      // adversarially long duplicate chain (diameter ≫ 20) can't outrun
      // the round cap the way plain propagation could
      val jump = prop.select(col("node").as("lbl"), col("lbl").as("lbl2"))
      val next = CheckpointTracker.ckpt(prop.join(jump, Seq("lbl"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"),
          (least(col("lbl"), coalesce(col("lbl2"), col("lbl"))) < col("old")).as("moved")),
        eager = true, level = ckptLevel)
      changed = next.filter(col("moved")).count()
      // free the SUPERSEDED generation: a checkpoint persists its backing
      // RDD outside the CacheManager, so without this every round's label
      // set stays in the MemoryStore for the whole loop — harmless at gate
      // scale, a measured heap OOM at the family soak's 213M-edge closure
      org.apache.spark.sql.graft.Shim.unpersistCheckpoint(labels)
      labels = next.drop("moved")
      iter += 1
    }
    // a silent split would diverge from the transitive closure — refuse
    require(changed == 0,
      s"dedup_clusters: min-label propagation did not converge in $iter rounds")
    // the edge cache served only this loop; the returned labels are
    // checkpointed independently
    org.apache.spark.sql.graft.Shim.unpersistCheckpoint(edges)
    (labels, iter)
  }

  /** Edge count at or under which a closure runs on the driver instead of
    * the distributed loop — the same bound (and rationale) as
    * StreamingOps.EdgeLocalCap: ~100k (a, b) longs is ~2 MB of driver
    * heap, while every [[clusterLabels]] round costs 3-4 Spark jobs of
    * fixed scheduling latency that dominates when the edge set is small
    * (r20 measurement: dedup_semantic_sweep ran 274 jobs at sf0.1, 65%
    * of its wall outside any job). */
  private[graft] val LabelsLocalCap = 100000L

  /** Driver union-find over an undirected edge list: node → component
    * minimum. Union attaches the LARGER root under the smaller, so every
    * set's root is its minimum id — identical labels to the converged
    * min-label propagation of [[clusterLabels]] (path compression only
    * rewires to current roots, never changes them). */
  private[graft] def localLabels(es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    es.flatMap(e => Seq(e._1, e._2)).distinct.map(n => (n, find(n)))
  }

  /** [[clusterLabels]] with a job-count-adaptive small-graph path (r20,
    * guide §1.2 step 1): ONE bounded collect (`limit(cap+1)`) decides —
    * at or under `localCap` edges the closure is a driver union-find
    * (one collect job, zero shuffles, and the result is a LocalRelation
    * downstream joins can broadcast without another job), above it the
    * distributed pointer-doubling loop runs unchanged. Labels are
    * IDENTICAL on both paths (see [[localLabels]]; spec'd on one graph in
    * DedupSpec). Near-dup pair sets are tiny relative to the corpus
    * whenever dedup is sane, so the local path is the common case at any
    * scale; the cap keeps the driver bounded when it is not. */
  def closeLabelsAdaptive(s: SparkSession, pairs: DataFrame,
                          localCap: Long = LabelsLocalCap): DataFrame = {
    val p2 = pairs.select(col(pairs.columns(0)).cast("long"),
      col(pairs.columns(1)).cast("long"))
    val head = p2.limit(localCap.toInt + 1).collect()
    // over-cap fallback checkpoints the edge set FIRST (r21, advice):
    // clusterLabels immediately unions `pairs` with its own swap, so an
    // unmaterialized pair pipeline (e.g. embeddingPairs) would recompute
    // twice inside its edges checkpoint on top of the limit-collect's
    // partial pass; the common small-graph path stays a single bounded
    // collect with no extra materialization job
    if (head.length > localCap)
      clusterLabels(s, CheckpointTracker.ckpt(pairs,
        eager = true, level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))._1
    else {
      import s.implicits._
      localLabels(head.map(r => (r.getLong(0), r.getLong(1))))
        .toSeq.toDF("node", "lbl")
    }
  }

  // ---- dedup_simhash -----------------------------------------------------
  // 64-bit SimHash over tokens; near-dup = hamming <= 3. Banding is EXACT
  // here (not probabilistic): 4 bands × 16 bits — hamming <= 3 flips bits in
  // at most 3 bands, so at least one band matches (pigeonhole). The bucket
  // join therefore finds every qualifying pair.
  private val SimhashBands = 4
  private val HammingMax = 3

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val sigs = t(s, dir, "documents")
      .withColumn("w", toksCol)
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), simhash(col("w"), 42L).as("sig"))
    // band buckets collect through the same self-bounding capped list as
    // the LSH paths: 65,536 buckets/band bound the AVERAGE, but an
    // adversarial corpus (millions of near-empty docs sharing one
    // signature) would still pile one bucket — the cap NULLs it out
    // instead of exploding n², bounding fan-out at cap²/2 per bucket.
    // Recall posture: a bucket that big is a mass-duplicate cluster,
    // which the exact/minhash passes upstream already collapse.
    val cand = sigs.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${SimhashBands - 1}), b -> shiftrightunsigned(sig, b * 16) & 65535)")))
      .toDF("doc_id", "band_idx", "band_key")
      .groupBy("band_idx", "band_key")
      .agg(graft.functions.capped_sorted_list(col("doc_id"), BucketCap).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(graft.functions.sorted_list_pairs(col("ids")))
      .distinct()
    // signatures rejoin only for candidate pairs (tiny after distinct →
    // AQE broadcasts); exact hamming decides
    cand
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b")), "b_id")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= HammingMax)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
  }

  // ---- dedup_ngram_jaccard ----------------------------------------------
  // Char-3-gram Jaccard at τ=0.75 over docs of the same lang within ±40
  // chars. The (lang, length-band) block join of earlier rounds was
  // correct but quadratic in block population (bands fill linearly with
  // the corpus); candidates now come from MinHash-LSH over the hashed
  // gram sets instead — 42 bands × 3 rows (126 hashes): recall at exactly
  // τ=0.75 is 1-(1-0.75³)⁴² ≈ 1-1e-10, so the exact-verified output
  // still equals the all-pairs oracle while candidate volume is
  // near-linear. Band buckets are capped with the same self-bounding
  // capped_sorted_list guard as the word-shingle path (per-bucket fan-out
  // ≤ cap²/2; dropping a mega-bucket is recall-safe — a true pair
  // collides in ~most of the 42 bands). The lang/length constraints are
  // SEMANTICS, not pruning: they filter candidates at verify time.
  private val LenBand = 40
  private val NgramTau = 0.75
  private val NgramBands = 42
  private val NgramRowsPerBand = 3

  // Gram sets are carried as xxhash64 longs, not strings: minhash and the
  // pairwise intersect/union run over primitive longs (no UTF8String
  // compares, ~5× less shuffle payload). Jaccard over hashed sets equals
  // Jaccard over the string sets (the oracle's form) unless a 64-bit
  // collision lands inside one document pair — probability ~1e-9 at this
  // gram count. Sorted-distinct hashed gram set in one native pass;
  // pairwise Jaccard is then a merge walk ([[SortedJaccard]]).
  private def charGrams: Column = graft.functions.ngram_hashes(col("text"), 3)

  private def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    // TWO-TIER architecture (r15). The declared semantics (same lang,
    // |n_chars diff| <= LenBand, exact gram-Jaccard >= tau) partition the
    // corpus into (lang, length-bucket) blocks: every qualifying pair lies
    // within one block or two adjacent ones. Each doc is therefore emitted
    // into its own bucket (flag 0) and the next one (flag 1).
    //
    // TIER 1 - blocks at or under BlockCap members collect their
    // (id, flag, n_chars, grams) structs and a native generator emits
    // VERIFIED pairs directly: the flag rule makes emission exactly-once,
    // the merge walk is bit-identical to sorted_jaccard, and there is no
    // join, no candidate materialization, and no distinct. The quadratic
    // term is bounded by cap^2/2 per block; the shuffle is one linear pass
    // of the gram sets (x2 bucket variants).
    //
    // TIER 2 - blocks OVER the cap escalate to MinHash-LSH instead of
    // either quadratic explosion (the r13 flaw) or wholesale drop: their
    // member docs re-enter the banded path (42 bands x 3 rows over a
    // fused one-permutation signature - recall 1-1e-10 at tau, one hash
    // per gram), band keys still folding in (lang, bucket) so candidates
    // stay inside the semantic blocks, band buckets bounded by the same
    // cap (a band bucket that STILL overflows - a mass-duplicate cluster -
    // is dropped whole, the declared skew guard; exact dedup upstream owns
    // that regime). Tier-2 candidates verify through a doc_id join and
    // cross-band duplicates collapse in the final distinct - at bench
    // scale tier 2 holds only the few blocks the cap rejects, at 100 TB
    // (where every block overflows) it IS the near-linear LSH path.
    //
    // On a corpus whose background gram-Jaccard crowds the threshold
    // (this synthetic one: 377-gram trigram universe, median pairwise
    // J~0.47 vs tau=0.75), r=3 banding alone passes nearly every pair -
    // folding the semantic blocks into BOTH tiers is what keeps candidate
    // volume proportional to true-block mass instead of N^2.
    val docs = t(s, dir, "documents")
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        floor(col("n_chars") / LenBand).as("bkt"), col("text"))
    // each doc under both bucket variants, with its gram set
    val emitted = docs
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        explode(array(
          struct(col("bkt").as("vbkt"), lit(0).as("flag")),
          struct((col("bkt") + 1).as("vbkt"), lit(1).as("flag")))).as("v"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        col("v.vbkt").as("vbkt"), col("v.flag").as("flag"))
    val blocks = emitted
      .select(col("lang"), col("vbkt"), col("doc_id"), col("flag"), col("n_chars"),
        charGrams.as("s"))
      .groupBy("lang", "vbkt")
      .agg(graft.functions.capped_block_list(
        col("doc_id"), col("flag"), col("n_chars"), col("s"), BlockCap).as("members"))
    val tier1 = blocks
      .filter(col("members").isNotNull)
      .select(graft.functions.verified_block_pairs(col("members"), LenBand, NgramTau))
    // tier 2: docs belonging to any overflowed block (the overflow key set
    // is bounded by the number of populated (lang, bucket) blocks - tiny -
    // so it broadcasts at any corpus scale)
    val overKeys = blocks.filter(col("members").isNull).select("lang", "vbkt")
    val t2docs = emitted
      .join(broadcast(overKeys), Seq("lang", "vbkt"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        floor(col("n_chars") / LenBand).as("bkt"), col("text"))
      .dropDuplicates("doc_id")
    val t2cand = t2docs
      .select(col("doc_id"), col("lang"), col("bkt"),
        graft.functions.ngram_oph(col("text"), 3, NgramBands * NgramRowsPerBand, 42L).as("sig"))
      .select(col("doc_id"), graft.functions.lsh_band_keys(
        col("sig"), col("lang"), col("bkt"), NgramBands, NgramRowsPerBand))
      .select(col("doc_id"), col("band_idx"), col("band_key"))
      .groupBy("band_idx", "band_key")
      .agg(graft.functions.capped_sorted_list(col("doc_id"), BucketCap).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(graft.functions.sorted_list_pairs(col("ids")))
      .distinct()
    val t2g = t2docs.select(col("doc_id"), col("lang"), col("n_chars"), charGrams.as("s"))
    val tier2 = t2cand
      .join(t2g.select(col("doc_id").as("a_id"), col("lang").as("lang_a"),
        col("n_chars").as("na"), col("s").as("sa")), "a_id")
      .join(t2g.select(col("doc_id").as("b_id"), col("lang").as("lang_b"),
        col("n_chars").as("nb"), col("s").as("sb")), "b_id")
      .filter(col("lang_a") === col("lang_b") && abs(col("na") - col("nb")) <= LenBand)
      .withColumn("jaccard", graft.functions.sorted_jaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= NgramTau)
      .select("a_id", "b_id", "jaccard")
    // tier-1 pairs are exactly-once; tier-2 pairs can duplicate tier-1
    // output for pairs straddling a healthy and an overflowed block - the
    // final distinct (over the small verified set) collapses them
    tier1.union(tier2)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  // ---- dedup_canonical ---------------------------------------------------
  // The SELECTION step that closes the dedup pipeline: pairs → components →
  // ONE surviving document per component, chosen by QUALITY (not min-id —
  // production recipes keep the best-written copy of a template, not the
  // lowest-numbered). Composition of dedupMinhashLsh + clusterLabels +
  // the shared quality score; ties on the rounded score break by doc_id so
  // the choice is deterministic and oracle-reproducible. Scale shape: the
  // label set covers only pair-docs (tiny vs the corpus), so docs OUTSIDE
  // any cluster take the broadcast anti-join fast path (they survive as
  // their own singleton, no window), and the rank window runs only over
  // the clustered minority — one broadcast + one small window shuffle, no
  // corpus-wide sort.
  private def dedupCanonical(s: SparkSession, dir: String): DataFrame =
    canonicalOver(t(s, dir, "documents"),
      lshPairs(s, dir).select("a_id", "b_id"))

  /** Best-quality canonical per near-dup cluster over an arbitrary
    * (doc_id, text) frame + pair set — the gated key's machinery,
    * factored for `CALL system.dedup(method => 'canonical')` (r20).
    * Labels cover only pair-docs, so both joins broadcast them;
    * singletons take the anti-join fast path. */
  private[graft] def canonicalOver(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val labels = closeLabelsAdaptive(s, pairs)
    val lbl = labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    val scored = docs
      .withColumn("w", TextAnalysis.tokens)
      .select(col("doc_id"), round(TextAnalysis.qualityScore, 6).as("quality"))
    val singletons = scored.join(broadcast(lbl), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("cluster_id"), col("doc_id").as("canonical_id"),
        lit(1L).as("n_docs"), col("quality"))
    val byQuality = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id").asc)
    val clustered = scored.join(broadcast(lbl), "doc_id")
      .withColumn("rk", row_number().over(byQuality))
      .withColumn("n_docs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"),
        col("n_docs"), col("quality"))
    singletons.union(clustered).orderBy("cluster_id")
  }

  // ---- dedup_embedding ---------------------------------------------------
  // Embedding-cosine near-dup, blocked by the coarse cluster id (`label` —
  // at scale the IVF/KMeans cell id). EXACT all-pairs semantics inside a
  // block is the operator's contract (the oracle's answer) — note random-
  // hyperplane LSH cannot sub-bucket here without changing it: at τ=0.4
  // the per-bit collision probability is only 1−acos(0.4)/π ≈ 0.63, so
  // any band width selective enough to prune (r ≥ 8) collapses recall
  // (0.63⁸ ≈ 2.5% per band). The scale design therefore bounds WHERE the
  // quadratic work runs instead of silently changing the answer:
  //  - block size is the deployment knob: cells are sized ∝ corpus
  //    (fixed target vectors/cell, cells grow with data), so per-block
  //    work is constant and total work stays linear at fixed cell size;
  //  - inside a block the self-join is CHUNKED (triangle salting): rows
  //    hash into ceil(n/EmbChunkCap) chunks and each unordered chunk pair
  //    (i ≤ j) is one equi-join key, so a skewed/mega cell spreads over
  //    (n/cap)²/2 tasks of ~cap² candidate pairs each instead of
  //    serializing one reducer on n²/2 — per-task memory and latency stay
  //    bounded while the answer is provably unchanged (a cross-chunk pair
  //    meets at exactly one key; same-chunk pairs dedupe on a_id < b_id);
  //  - the approximate sub-quadratic path for embeddings is the IVF/ANN
  //    machinery (knn_join); this operator is the exact in-cell verify.
  private[graft] val CosTau = 0.4
  private[graft] val EmbChunkCap = 64

  /** All within-label cosine pairs via the chunked triangle self-join —
    * exact at every scale; `cap` bounds per-task candidate fan-out. */
  private[graft] def embeddingPairs(e: DataFrame, cap: Int): DataFrame = {
    val counts = e.groupBy("label").agg(count(lit(1)).as("n_lbl"))
    val chunked = e.join(broadcast(counts), "label")
      .withColumn("nc", ceil(col("n_lbl").cast("double") / cap).cast("int"))
      .withColumn("c", pmod(xxhash64(col("vec_id")), col("nc")).cast("int"))
    // a row joins every chunk-pair key its chunk participates in: its own
    // chunk as the LEFT of (c, j ≥ c) and as the RIGHT of (i ≤ c, c) —
    // replication per row is nc/2+1 per side (1 for unchunked blocks,
    // where this degenerates to the plain label self-join)
    val left = chunked.select(col("label"), col("vec_id").as("a_id"),
      col("embedding").as("va"), col("c").as("ci"),
      explode(expr("sequence(c, nc - 1)")).as("cj"))
    val right = chunked.select(col("label"), col("vec_id").as("b_id"),
      col("embedding").as("vb"), col("c").as("cj"),
      explode(expr("sequence(0, c)")).as("ci"))
    left.join(right, Seq("label", "ci", "cj"))
      .filter(col("ci") < col("cj") || col("a_id") < col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("label"),
        round(graft.functions.vec_cosine(col("va"), col("vb")), 6).as("cos"))
  }

  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    embeddingPairs(t(s, dir, "embeddings"), EmbChunkCap)
      .filter(col("cos") >= CosTau)
      .select("a_id", "b_id", "label", "cos")
      .orderBy("a_id", "b_id")

  // ---- dedup_semantic ------------------------------------------------------
  // The END-TO-END SemDeDup pipeline (Abbas et al. 2023, "SemDeDup: Data-
  // efficient learning at web-scale through semantic deduplication"):
  // cluster-blocked cosine pairs (dedup_embedding's exact in-cell verify) →
  // connected components (A~B, B~C collapse even when A~C was never
  // scored) → ONE survivor per semantic group (min vec_id, the same
  // deterministic representative rule as dedup_clusters) → the curated
  // corpus = survivors. dedup_embedding reports the PAIRS; this key
  // answers the question a pipeline actually asks: which rows do I keep.
  // Blocks come from the embeddings table's cluster id (`label`) exactly
  // as in dedup_embedding — at 100 TB that id is the IVF/KMeans cell
  // (sample_cluster_balanced shows the trained path), assignment is one
  // codegen'd map stage, and everything downstream of pair generation
  // touches only near-dup pairs (tiny) plus one broadcast-able drop list:
  // survivors materialize as a left-anti join of the corpus against the
  // dropped ids, never a shuffle of the corpus itself.
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    semanticSurvivors(s, t(s, dir, "embeddings")
      .select("vec_id", "label", "embedding"), outCol = "label")

  // ---- dedup_semantic_sweep ------------------------------------------------
  // The SemDeDup ε-CURVE (Abbas et al. 2023 §4 tunes dedup aggressiveness
  // by sweeping the similarity threshold): one row per τ with the pair
  // count, dropped count and survivor count — the numbers a deployment
  // reads to pick its operating point before running the full dedup. The
  // expensive work happens ONCE: the in-cell cosine pairs are computed at
  // the sweep's minimum τ and checkpointed; each sweep point then filters
  // that (tiny) pair set and closes components over near-dup pairs only —
  // per-τ cost ∝ pairs, never ∝ corpus, so a K-point sweep costs one
  // dedup_embedding pass + K closures over the pair set. τ compares the
  // same 6-dp rounded cosine the gated pairs carry; fixture labels block
  // the pairs (swap in trainedAssign for the trained-cell form, exactly
  // as dedup_semantic_trained does).
  private[graft] val SweepTaus = Seq(0.3, 0.4, 0.5, 0.6)

  private def dedupSemanticSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "embeddings")
    val total = e.count()
    val pairs = embeddingPairs(e, EmbChunkCap)
      .filter(col("cos") >= SweepTaus.min)
      .select("a_id", "b_id", "cos")
    // r20 optimization (guide §1.2 step 1 — measured 274 jobs / 65% of
    // the wall outside any job at sf0.1): the sweep's K filter-counts and
    // K iterative closures all run over the SAME minimum-τ pair set, so
    // when that set is driver-sized (the common case — near-dup pairs are
    // tiny vs the corpus whenever dedup is sane) pull it ONCE and compute
    // every sweep point locally: per-τ pair count + union-find dropped
    // count ([[localLabels]] — labels provably identical to the
    // distributed loop). Over the cap the former per-τ distributed loop
    // runs unchanged on a checkpointed pair set.
    val head = pairs.limit(LabelsLocalCap.toInt + 1).collect()
    val points =
      if (head.length <= LabelsLocalCap) {
        val es = head.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        SweepTaus.map { tau =>
          val p = es.filter(_._3 >= tau)
          val nPairs = p.length.toLong
          val nDropped =
            if (nPairs == 0L) 0L
            else localLabels(p.map(t => (t._1, t._2))).count { case (n, l) => n != l }.toLong
          (tau, nPairs, nDropped, total - nDropped)
        }
      } else {
        val pc = pairs.localCheckpoint()
        SweepTaus.map { tau =>
          val p = pc.filter(col("cos") >= tau).select("a_id", "b_id")
          val nPairs = p.count()
          val nDropped =
            if (nPairs == 0L) 0L
            else clusterLabels(s, p)._1.filter(col("node") =!= col("lbl")).count()
          (tau, nPairs, nDropped, total - nDropped)
        }
      }
    // each point reduces to three driver scalars — ONE local relation,
    // already tau-ascending, is the whole result
    points.toDF("tau", "n_pairs", "n_dropped", "n_survivors")
  }

  // ---- dedup_semantic_trained ----------------------------------------------
  // The TRAINED-CELL SemDeDup composition (r18, closing the r17 verdict's
  // fixture-label caveat): dedup_semantic blocks pairs by the embeddings
  // table's `label` column — a fixture stand-in for the IVF/KMeans cell id.
  // This key runs the pipeline END TO END the way a production job does:
  // build a persisted IVF_FLAT index over the corpus (IndexBuild — KMeans
  // on a capped sample, sidecar-stored centroids, cell-clustered layout),
  // RELOAD the centroids through the sidecar (the composed path — not the
  // in-memory build handle), assign every vector to its nearest stored
  // centroid with the codegen'd NearestCell map, then the identical
  // pair→components→survivors tail with the trained cell as the block.
  // FULL DuckDB ORACLE: training itself is iterative (not SQL), but
  // everything downstream is — the run records the trained centroids and
  // the oracle re-derives assignment (argmin over the centroid literals,
  // same float→double widening, same squared-L2), pairs, the recursive
  // closure and the survivor anti-join independently. The oracle entry is
  // emitted only after the key has run in this session (Verify dumps
  // oracle_sql.json AFTER the query pass, so the driver always sees it);
  // an unrun session degrades to the rows-only record.
  private[graft] val TrainedSemCells = 16

  /** Session-memoized trained index per (session, dir) — one KMeans +
    * persisted-sidecar build per corpus, reused across Verify/Bench
    * consumers. */
  private val semIndexes = new FixtureMemo[IndexBuild.BuiltIndex]("semidx", _.root)

  private[graft] def trainedSemIndex(s: SparkSession, dir: String): IndexBuild.BuiltIndex =
    semIndexes(s, dir)(tmp => IndexBuild.build(s, t(s, dir, "embeddings"), tmp + "/t", Map(
      "index.type" -> "IVF_FLAT",
      "index.num-partitions" -> TrainedSemCells.toString)))

  /** Nearest-stored-centroid assignment: (vec_id, label = trained cell,
    * embedding) — `label` so [[embeddingPairs]] blocks on it unchanged. */
  private[graft] def trainedAssign(e: DataFrame,
                                   cents: Array[Array[Double]]): DataFrame = {
    val dim = cents.head.length
    val flat = cents.flatten
    e.select(col("vec_id"),
      graft.functions.nearest_cell(col("embedding"), flat, cents.length, dim)
        .cast("long").as("label"),
      col("embedding"))
  }

  /** The SemDeDup tail over an assigned corpus — the ONE definition both
    * dedup_semantic (fixture labels, outCol = "label") and
    * dedup_semantic_trained (IVF cells, outCol = "cell") run: in-cell
    * pairs → components → survivors. Non-representative members (node !=
    * component min) are the drop list; everything else — including every
    * vector outside any pair — survives untouched. No broadcast HINT on
    * purpose: the drop list is usually tiny (near-dup members only) and
    * AQE broadcasts it from its materialized size, but on a
    * heavily-duplicated corpus it is O(corpus) and a forced broadcast
    * would OOM the driver — the shuffled anti-join is the correct
    * fallback there. */
  private[graft] def semanticSurvivors(s: SparkSession, assigned: DataFrame,
                                       outCol: String = "cell"): DataFrame =
    assigned.select(col("vec_id"), col("label").as(outCol))
      .join(semanticDropList(s, assigned), Seq("vec_id"), "left_anti")
      .orderBy("vec_id")

  /** The drop list alone — (vec_id) of every non-representative member of
    * a cosine component. Shared by the gated keys (via
    * [[semanticSurvivors]]) and CALL system.semdedup, whose survivors are
    * whole corpus rows rather than (vec_id, cell) pairs. */
  private[graft] def semanticDropList(s: SparkSession, assigned: DataFrame,
                                      tau: Double = CosTau): DataFrame = {
    val pairs = embeddingPairs(assigned, EmbChunkCap)
      .filter(col("cos") >= tau)
      .select("a_id", "b_id")
    val labels = closeLabelsAdaptive(s, pairs)
    labels.filter(col("node") =!= col("lbl"))
      .select(col("node").as("vec_id"))
  }

  private def dedupSemanticTrained(s: SparkSession, dir: String): DataFrame = {
    val idx = trainedSemIndex(s, dir)
    // centroids from the SIDECAR (IndexBuild.load), not the build handle —
    // the stored-centroid path every post-build consumer takes
    val cents = IndexBuild.load(s, idx.root).centroids.map(_.toArray)
    TrainedSemOracle.record("dedup_semantic_trained", cents)
    semanticSurvivors(s, trainedAssign(t(s, dir, "embeddings"), cents))
  }

  /** Lazily-armed DuckDB oracles for the trained-cell SemDeDup family:
    * each key's run records its trained centroids (+ its τ and final
    * survivor SELECT), which become the oracle's SQL literals. Argmin is
    * an explicit window-rank ORDER BY dist, cell (NearestCell's strict
    * `<` keeps the LOWEST index on ties); the distance is the same
    * float→double widened squared-L2, term order preserved;
    * Double.toString is the shortest round-trip form, so DuckDB parses
    * the literals back to the identical bits. */
  private[graft] object TrainedSemOracle {
    private val recorded = new java.util.concurrent.ConcurrentHashMap[
      String, (Array[Array[Double]], Double, String)]()

    /** `finalSelect` consumes the `assign` (vec_id, embedding, cell) and
      * `comp` (node, lbl) CTEs; the default emits (vec_id, cell). */
    def record(key: String, cents: Array[Array[Double]],
               tau: Double = CosTau,
               finalSelect: String =
                 """SELECT vec_id, cell FROM assign
                   |WHERE vec_id NOT IN (SELECT node FROM comp WHERE node != lbl)
                   |ORDER BY vec_id""".stripMargin): Unit =
      recorded.put(key, (cents, tau, finalSelect))

    def entry: Map[String, String] = {
      import scala.jdk.CollectionConverters._
      recorded.asScala.toMap.map { case (key, (cs, tau, finalSelect)) =>
        val dim = cs.head.length
        val rows = cs.zipWithIndex.map { case (c, i) =>
          s"($i, [${c.mkString(", ")}]::DOUBLE[])"
        }.mkString(", ")
        key ->
          s"""WITH RECURSIVE cents(cell, cv) AS (VALUES $rows),
             |assign AS (
             |  SELECT vec_id, embedding, cell FROM (
             |    SELECT e.vec_id, e.embedding, CAST(c.cell AS BIGINT) AS cell,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_sum(list_transform(range(1, ${dim + 1}),
             |          i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
             |             * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))) ASC,
             |        c.cell ASC) AS rk
             |    FROM embeddings e CROSS JOIN cents c)
             |  WHERE rk = 1),
             |pairs AS (SELECT a_id, b_id FROM (
             |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |      CAST(b.embedding AS DOUBLE[])), 6) AS cos
             |  FROM assign a JOIN assign b
             |    ON a.cell = b.cell AND a.vec_id < b.vec_id)
             |  WHERE cos >= $tau),
             |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
             |  UNION SELECT b_id, a_id FROM pairs
             |  UNION SELECT a_id, a_id FROM pairs
             |  UNION SELECT b_id, b_id FROM pairs),
             |reach(a, b) AS (SELECT a, b FROM edges
             |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
             |comp AS (SELECT a AS node, min(b) AS lbl FROM reach GROUP BY a)
             |$finalSelect""".stripMargin
      }
    }
  }

  // ---- dedup_substring ---------------------------------------------------
  // EXACT-SUBSTRING dedup (the Lee et al. 2022 "Deduplicating Training Data
  // Makes Language Models Better" signal): for each document, the tokens
  // lying inside some run of >= SubstrN tokens that also appears verbatim
  // in ANOTHER document. The paper builds a corpus suffix array; the
  // distributed equivalence used here is stride-1 windows — a run of
  // L >= n shared tokens shares ALL of its n-token windows, and any shared
  // n-window is itself a shared run — so the merged window coverage equals
  // the suffix-array answer EXACTLY (for the cross-document case; within-
  // doc repetition is text_repetition's signal). Shape at scale: one
  // shuffle of the windowed token stream for the global window->doc-count
  // group (same honest bound as text_crossdup — the join-key cardinality
  // is the distinct-window vocabulary, the shuffled volume is ~n x corpus
  // tokens; production swaps the join key for a 128-bit window hash to cut
  // bytes — kept as strings here so the DuckDB oracle computes identical
  // keys). Duplicated windows are a small vocabulary slice (boilerplate),
  // so the hit semi-join broadcasts, and the per-doc interval merge is a
  // lag window over ONLY the hit rows. Coverage needs no island ids: with
  // equal-length sorted spans, each row past the first adds
  // min(pos - prev_pos, n) newly covered tokens.
  private val SubstrN = 8

  private def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    substringCoverage(s, dir, identity)

  /** The hashed-key variant for the shuffle-bound regime: the window
    * string never leaves its map task — xxhash64 collapses the shuffled
    * key to 8 bytes (~10× fewer bytes through BOTH window-keyed stages on
    * natural text). A 64-bit collision could only mark one extra window
    * duplicated (P ≈ |windows|²/2⁶⁵ — negligible at any realistic
    * vocabulary), so it shares dedup_substring's SQL oracle. */
  private def dedupSubstringHashed(s: SparkSession, dir: String): DataFrame =
    substringCoverage(s, dir, g => xxhash64(g))

  private def substringCoverage(s: SparkSession, dir: String,
                                key: Column => Column): DataFrame = {
    val base = t(s, dir, "documents")
      .withColumn("w", toksCol)
      .filter(size(col("w")) >= SubstrN)
      // the IF keeps the expression TOTAL: Catalyst folds the generate-
      // inferred `size(gs) > 0` conjunct into the same Filter as the
      // size(w) guard and may evaluate it FIRST, and sequence(1, n) runs
      // DESCENDING for n < 1 (slice start 0 then throws)
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"), expr(
        s"""IF(size(w) < $SubstrN, array(),
           |  transform(sequence(1, size(w) - ${SubstrN - 1}),
           |    i -> concat_ws(' ', slice(w, i, $SubstrN))))""".stripMargin)
        .as("gs"))
    val wins = base.select(col("doc_id"), posexplode(col("gs")))
      .toDF("doc_id", "pos", "g0")
      .select(col("doc_id"), col("pos"), key(col("g0")).as("g"))
    val dupWins = wins.groupBy("g")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val covered = wins.join(dupWins, Seq("g"), "left_semi")
      .select("doc_id", "pos")
      .withColumn("gap", col("pos") - lag("pos", 1).over(byPos))
      .groupBy("doc_id")
      .agg(sum(when(col("gap").isNull, lit(SubstrN.toLong))
        .otherwise(least(col("gap"), lit(SubstrN.toLong)))).as("dup_tokens"))
    base.select("doc_id", "n_tokens")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"), 6)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_clusters" -> dedupClusters,
    "dedup_canonical" -> dedupCanonical,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_semantic" -> dedupSemantic,
    "dedup_semantic_trained" -> dedupSemanticTrained,
    "dedup_semantic_sweep" -> dedupSemanticSweep,
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_hashed" -> dedupSubstringHashed)

  private val wSql = """list_filter(regexp_split_to_array(text, '[\t\n\x0B\f\r ]+'), x -> x != '')"""

  // a `def`: the dedup_semantic_trained entry materializes only after the
  // key has run (its centroids become the oracle's literals) — Verify
  // dumps oracle_sql.json AFTER the query pass, so the driver sees it
  def oracleSql: Map[String, String] =
    TrainedSemOracle.entry.get("dedup_semantic_trained")
      .map("dedup_semantic_trained" -> _).toMap ++ Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, sha256(text) AS h
        |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin,
    // Oracle is the *all-pairs* exact Jaccard — the LSH path must reproduce
    // it (recall ≈ 1 - 5e-8 at τ=0.8 with r=4, b=32).
    "dedup_minhash_lsh" ->
      s"""WITH d AS (SELECT doc_id, $wSql AS w FROM documents),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
         |  FROM d WHERE len(w) >= 3)
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= $JaccardTau ORDER BY a_id, b_id""".stripMargin,
    // same pair set as the LSH oracle, then components via transitive
    // closure (recursive CTE) and min-label per node
    "dedup_clusters" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $wSql AS w FROM documents),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
         |  FROM d WHERE len(w) >= 3),
         |pairs AS (SELECT a_id, b_id FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= $JaccardTau),
         |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs
         |  UNION SELECT a_id, a_id FROM pairs
         |  UNION SELECT b_id, b_id FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS node, min(b) AS lbl FROM reach GROUP BY a)
         |SELECT lbl AS keep_id, count(*) AS n_docs,
         |  CAST(sum(node) AS BIGINT) AS sum_ids
         |FROM comp GROUP BY lbl ORDER BY keep_id""".stripMargin,
    // same components as the dedup_clusters oracle, then the best-QUALITY
    // doc per component survives (ties by doc_id); docs outside every
    // cluster survive as their own singleton
    "dedup_canonical" ->
      s"""WITH RECURSIVE d AS (SELECT doc_id, $wSql AS w FROM documents),
         |g AS (SELECT doc_id,
         |  list_distinct(list_transform(range(1, len(w) - 1),
         |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
         |  FROM d WHERE len(w) >= 3),
         |pairs AS (SELECT a_id, b_id FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
         |  WHERE jaccard >= $JaccardTau),
         |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs
         |  UNION SELECT a_id, a_id FROM pairs
         |  UNION SELECT b_id, b_id FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS node, min(b) AS lbl FROM reach GROUP BY a),
         |st AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS nt,
         |  CAST(len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS DOUBLE) AS sc,
         |  CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS dr
         |  FROM d),
         |q AS (SELECT doc_id,
         |  round(least(1.0, nt / 100.0) * 0.4 + dr * 0.4 + least(1.0, sc / nt * 5.0) * 0.2, 6) AS quality
         |  FROM st),
         |lab AS (SELECT q.doc_id, COALESCE(comp.lbl, q.doc_id) AS cluster_id, q.quality
         |  FROM q LEFT JOIN comp ON q.doc_id = comp.node),
         |r AS (SELECT cluster_id, doc_id, quality,
         |  row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rk,
         |  count(*) OVER (PARTITION BY cluster_id) AS n_docs
         |  FROM lab)
         |SELECT cluster_id, doc_id AS canonical_id, n_docs, quality
         |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH g AS (SELECT doc_id, lang, n_chars,
         |  list_distinct(list_transform(range(1, length(text) - 1),
         |    i -> substr(text, CAST(i AS INTEGER), 3))) AS s
         |  FROM documents WHERE length(text) >= 3)
         |SELECT * FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
         |  FROM g a JOIN g b
         |    ON a.lang = b.lang AND a.doc_id < b.doc_id
         |    AND abs(a.n_chars - b.n_chars) <= $LenBand)
         |WHERE jaccard >= $NgramTau ORDER BY a_id, b_id""".stripMargin,
    "dedup_embedding" ->
      s"""SELECT * FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
         |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |      CAST(b.embedding AS DOUBLE[])), 6) AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cos >= $CosTau ORDER BY a_id, b_id""".stripMargin,
    // the SemDeDup end-to-end: same cosine pairs, transitive closure by
    // recursive CTE (the dedup_clusters pattern), survivors = everything
    // except non-min members of a component
    "dedup_semantic" ->
      s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |      CAST(b.embedding AS DOUBLE[])), 6) AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id)
         |  WHERE cos >= $CosTau),
         |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs
         |  UNION SELECT a_id, a_id FROM pairs
         |  UNION SELECT b_id, b_id FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |comp AS (SELECT a AS node, min(b) AS lbl FROM reach GROUP BY a)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT node FROM comp WHERE node != lbl)
         |ORDER BY vec_id""".stripMargin,
    // same stride-1 windows as strings; parallel unnest zips (gram, pos).
    // The hashed variant shares this statement: its OUTPUT carries no hash
    // values (coverage counts only), and a 64-bit window-key collision —
    // the only way the two variants could diverge — has P ≈ |windows|²/2⁶⁵
    "dedup_substring" -> substrOracle,
    "dedup_substring_hashed" -> substrOracle,
    // one closure per sweep point, each over the SAME pair definition the
    // dedup_semantic oracle uses at that τ
    "dedup_semantic_sweep" -> SweepTaus.map { tau =>
      s"""SELECT CAST($tau AS DOUBLE) AS tau, n_pairs, n_dropped,
         |  (SELECT count(*) FROM embeddings) - n_dropped AS n_survivors
         |FROM (
         |  WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM (
         |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |      round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |        CAST(b.embedding AS DOUBLE[])), 6) AS cos
         |    FROM embeddings a JOIN embeddings b
         |      ON a.label = b.label AND a.vec_id < b.vec_id)
         |    WHERE cos >= $tau),
         |  edges AS (SELECT a_id AS a, b_id AS b FROM pairs
         |    UNION SELECT b_id, a_id FROM pairs
         |    UNION SELECT a_id, a_id FROM pairs
         |    UNION SELECT b_id, b_id FROM pairs),
         |  reach(a, b) AS (SELECT a, b FROM edges
         |    UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |  comp AS (SELECT a AS node, min(b) AS lbl FROM reach GROUP BY a)
         |  SELECT (SELECT count(*) FROM pairs) AS n_pairs,
         |    (SELECT count(*) FROM comp WHERE node != lbl) AS n_dropped)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY tau"))

  private lazy val substrOracle =
      s"""WITH d AS (SELECT doc_id, $wSql AS w FROM documents),
         |b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  list_transform(range(1, len(w) - ${SubstrN - 2}),
         |    i -> array_to_string(list_slice(w, i, i + ${SubstrN - 1}), ' ')) AS gs
         |  FROM d WHERE len(w) >= $SubstrN),
         |g AS (SELECT doc_id, unnest(gs) AS g, unnest(range(0, len(gs))) AS pos FROM b),
         |dup AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         |h AS (SELECT doc_id, pos FROM g WHERE g IN (SELECT g FROM dup)),
         |sp AS (SELECT doc_id,
         |  pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap FROM h),
         |cov AS (SELECT doc_id, CAST(sum(CASE WHEN gap IS NULL THEN $SubstrN
         |    ELSE least(gap, $SubstrN) END) AS BIGINT) AS dup_tokens
         |  FROM sp GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens,
         |  coalesce(cov.dup_tokens, 0) AS dup_tokens,
         |  round(CAST(coalesce(cov.dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6) AS dup_frac
         |FROM b LEFT JOIN cov ON b.doc_id = cov.doc_id ORDER BY b.doc_id""".stripMargin
    // dedup_simhash: intentionally no SQL oracle — the signature depends on
    // xxHash64, which DuckDB lacks; correctness is covered by the
    // brute-force-equivalence unit test (banding is exact, see above).
}
