package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks (ScalaCheck, 200 cases each) for the pure
  * kernels whose invariants the example-based specs can only spot-check:
  * randomized inputs hunt the edge the fixture missed. */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, prop: Prop, cases: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  /** Run a fuzz case on a daemon thread with a hard deadline: a decode
    * that wedges (the r17 audio-header hang class — a mutated WAV header
    * spun readAllBytes at 100% CPU forever) FAILS the case after
    * timeoutMs instead of hanging the suite. Robustness fuzz without a
    * watchdog degrades to seed luck. */
  private def boundedCase[A](timeoutMs: Long)(body: => A): A = {
    val task = new java.util.concurrent.FutureTask[A](() => body)
    val t = new Thread(task, "fuzz-watchdog-case")
    t.setDaemon(true)
    t.start()
    try task.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        // best-effort: an interrupt stops IO-blocked decodes; a pure CPU
        // spin (the r17 class) ignores it and keeps burning a core until
        // JVM exit — say so, since later wall-clock asserts in this JVM
        // then run on a loaded machine
        t.interrupt()
        sys.error(s"fuzz case exceeded ${timeoutMs}ms watchdog: decode " +
          "wedge (worker interrupted; a CPU-spinning decode may still " +
          "load one core for the rest of this JVM)")
    }
  }

  test("audioFingerprint: exact gain invariance for every sample array and gain") {
    // the claimed invariant, over random envelopes — not just the fixture:
    // scaling every sample by any gain (no Short overflow) preserves all
    // 128 window-energy comparisons bit-for-bit
    val gen = for {
      n <- Gen.choose(200, 3000)
      samples <- Gen.listOfN(n, Gen.choose(-1000, 1000))
      gain <- Gen.choose(1, 30)
    } yield (samples.map(_.toShort).toArray, gain)
    check("gain invariance", Prop.forAll(gen) { case (s, g) =>
      val scaled = s.map(x => (x * g).toShort)
      operators.Multimodal.audioFingerprint(s) ==
        operators.Multimodal.audioFingerprint(scaled)
    })
  }

  test("MaxMinstdDraws.compute == brute-force max of w MINSTD draws") {
    val A = 48271L; val M = 2147483647L
    def m2(c: Long) = c * A % M * A % M
    val gen = for {
      id <- Gen.choose(0L, Int.MaxValue.toLong)
      w <- Gen.choose(1L, 3000L)
    } yield (id, w)
    check("weighted key", Prop.forAll(gen) { case (id, w) =>
      val base = m2(id)
      val brute = (1L to w).map(j => m2((base + j) % M)).max
      functions.MaxMinstdDraws.compute(id, w) == brute
    })
    // a corrupt/adversarial weight fails fast with a diagnostic instead of
    // an O(w) executor hang (the former sequence(1, w) SQL form's posture)
    val big = intercept[IllegalArgumentException] {
      functions.MaxMinstdDraws.compute(1L, functions.MaxMinstdDraws.MaxDraws + 1)
    }
    assert(big.getMessage.contains("draw cap"), big.getMessage)
  }

  test("decode paths never throw on arbitrary bytes (crawled-corpus fuzz)") {
    // the drop-don't-fail posture every crawled-corpus operator claims:
    // garbage payloads must come back as None/empty, never as a task
    // failure. Random bytes plus mutated valid prefixes (the nastier
    // case: plausible headers with corrupt bodies).
    val someImg = operators.Multimodal.ImageCodec.encodePng(
      operators.Multimodal.synthFrame(1L, 0))
    val someWav = operators.Multimodal.AudioCodec.encodeWav(
      8000, 1, operators.Multimodal.synthAudioDedup(1L))
    val someVid = operators.Multimodal.synthVideo(1L)
    val garbage: Gen[Array[Byte]] = for {
      n <- Gen.choose(0, 400)
      bs <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield bs.toArray
    val mutated: Gen[Array[Byte]] = for {
      base <- Gen.oneOf(someImg, someWav, someVid)
      cut <- Gen.choose(0, base.length)
      flip <- Gen.choose(0, math.max(0, cut - 1))
    } yield {
      val b = java.util.Arrays.copyOf(base, cut)
      if (b.nonEmpty) b(flip) = (b(flip) ^ 0x5a).toByte
      b
    }
    // header-field bombs: valid containers with absurd DECLARED sizes —
    // the class randomized flips rarely hit (PNG IHDR dims at 16..23
    // big-endian; WAV fmt channel count at 22..23 little-endian) that
    // wedged/bombed the decoders before the r18 bounds
    val bombed: Gen[Array[Byte]] = for {
      base <- Gen.oneOf(Gen.const(someImg), Gen.const(someWav))
      off <- Gen.choose(16, 23)
      big <- Gen.choose(64.toByte, Byte.MaxValue)
    } yield { val b = base.clone(); b(off) = big; b }
    val payload = Gen.oneOf(garbage, mutated, bombed)
    check("decode fuzz", Prop.forAll(payload) { bytes =>
      boundedCase(30000L) {
        operators.Multimodal.ImageCodec.tryDecode(bytes) // Option or bust
        operators.Multimodal.AudioCodec.decode(bytes)
        operators.Multimodal.parseGvid(bytes)
        operators.Multimodal.GvidDecoder.decodeSampled(bytes, 2).length >= 0
      }
    }, cases = 300)
  }

  test("plan-fingerprint normalizer strips every per-JVM identity (r18: lambda ids flipped fingerprints on unchanged code)") {
    // the real mm_frame_sample line that flipped across JVMs: the typed
    // MapPartitions node prints its function object — lambda class id,
    // hidden-class address AND identity hash are all fresh per JVM
    val rep1 = "+- MapPartitions org.apache.spark.sql.internal.UDFAdaptors" +
      "$$$Lambda$5593/0x00007f9d9555fad0@3ef97efc, obj#123: graft.operators.MMFrame"
    val rep2 = "+- MapPartitions org.apache.spark.sql.internal.UDFAdaptors" +
      "$$$Lambda$4411/0x00007f1122334455@5304ac92, obj#456: graft.operators.MMFrame"
    assert(Bench.normalizePlan(rep1) === Bench.normalizePlan(rep2),
      s"lambda identities survive normalization:\n${Bench.normalizePlan(rep1)}")
    // the established strips stay: expr ids, paths, partition counts
    val a = "Exchange hashpartitioning(user_id#42, 32) file:/tmp/x-123/t plan_id=7"
    val b = "Exchange hashpartitioning(user_id#7, 8) file:/tmp/y-456/t plan_id=9"
    assert(Bench.normalizePlan(a) === Bench.normalizePlan(b))
    // v3: manifest version / fragment counts are run-shape, not plan —
    // a stream that commits one batch more must not flip its fingerprint
    val s1 = "LanceScan root=<tmp> version=4 fragments=4/4 PushedFilters: []"
    val s2 = "LanceScan root=<tmp> version=6 fragments=5/5 PushedFilters: []"
    assert(Bench.normalizePlan(s1) === Bench.normalizePlan(s2))
    // v4: the kept/total ratio is bucketed, not deleted — a regression
    // that stops fragment pruning (kept == total where it used to be <)
    // MUST flip the fingerprint tripwire...
    val pruned = "LanceScan root=<tmp> version=4 fragments=2/8 PushedFilters: [In(cell)]"
    val full = "LanceScan root=<tmp> version=4 fragments=8/8 PushedFilters: [In(cell)]"
    assert(Bench.normalizePlan(pruned) !== Bench.normalizePlan(full),
      "lost fragment pruning must flip the fingerprint")
    // ...while two pruned runs with different run-shape counts stay equal
    val pruned2 = "LanceScan root=<tmp> version=9 fragments=3/12 PushedFilters: [In(cell)]"
    assert(Bench.normalizePlan(pruned) === Bench.normalizePlan(pruned2))
    // v4: the strips are ANCHORED to LanceScan lines — a version= outside
    // one (e.g. a pinned time-travel version in an options map) is plan
    // structure and survives
    val tt = "Relation [x#1] options(version=3)"
    assert(Bench.normalizePlan(tt).contains("version=3"),
      "non-LanceScan version= must survive normalization")
  }

  test("plan-fingerprint normalizer v5: scan metadata cut by Spark and lambda counters are stable") {
    // Spark cuts each scan metadata value to 100 characters while the
    // expression ids are still in it, so wider ids move the cut (the q6
    // DataFilters line that flipped between two reps in one JVM)
    def scan(first: String, id: Int => String): String = {
      val full = s"[isnotnull($first${id(1)}), isnotnull(l_discount${id(2)}), " +
        s"isnotnull(l_quantity${id(3)}), ($first${id(1)} >= 1996-01-01 00:00:00)]"
      val cut = if (full.length > 100) full.take(97) + "..." else full
      s"+- FileScan parquet [l_quantity${id(3)},$first${id(1)}] Batched: true, " +
        s"DataFilters: $cut, Format: Parquet, PartitionFilters: [], PushedFilters: " +
        "[IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity), " +
        "GreaterThanOrEqual(l_shipda..., ReadSchema: struct<l_quantity:double>"
    }
    val narrow = scan("l_shipdate", i => s"#$i")
    val wide = scan("l_shipdate", i => s"#${i}0000")
    assert(narrow.replaceAll("#\\d+", "#") !== wide.replaceAll("#\\d+", "#"),
      "control: the id strip alone leaves the cut unstable")
    assert(Bench.normalizePlan(narrow) === Bench.normalizePlan(wide))
    // the id-free PushedFilters cut is stable already and survives as is
    assert(Bench.normalizePlan(narrow).contains("GreaterThanOrEqual(l_shipda..., ReadSchema"))
    // the kept prefix still names the first filtered column
    assert(Bench.normalizePlan(scan("l_orderdate", i => s"#$i")) !== Bench.normalizePlan(narrow))
    // Scala-API lambda variables are named from a JVM-global counter
    val l1 = "filter(w#3, lambdafunction(lambda x_15#7 IN (the,a), lambda x_15#7, false))"
    val l2 = "filter(w#9, lambdafunction(lambda x_30#8 IN (the,a), lambda x_30#8, false))"
    assert(Bench.normalizePlan(l1) === Bench.normalizePlan(l2))
    // per-run catalog table names carry a random suffix
    val t1 = "BatchScan graft_lance.db.deco_3cf445a232704b8aa9ee773a4b4dd254[doc_id#1L]"
    val t2 = "BatchScan graft_lance.db.deco_025d0f6b20ae4a1ca5abbe8cf01c3152[doc_id#9L]"
    assert(Bench.normalizePlan(t1) === Bench.normalizePlan(t2))
    // an RDD's call-site line moves whenever lines above it move
    def rdd(line: Int): String = "Arguments: [doc_id#1L], MapPartitionsRDD[857] at " +
      s"localCheckpoint at StreamingOps.scala:$line, ExistingRDD, UnknownPartitioning(0)"
    assert(Bench.normalizePlan(rdd(2245)) === Bench.normalizePlan(rdd(2116)))
    assert(Bench.normalizePlan(rdd(2245)).contains("at StreamingOps.scala:N"))
  }

  test("text kernels never throw on arbitrary UTF-16 (including lone surrogates)") {
    // a crawled corpus contains malformed encodings; the gram kernels
    // slice by CODE POINT (the r15 langid fix) and must survive any
    // char sequence -- including unpaired surrogates -- without throwing
    import org.apache.spark.unsafe.types.UTF8String
    val charGen: Gen[Char] = Gen.frequency(
      4 -> Gen.choose(32.toChar, 126.toChar),            // ascii
      3 -> Gen.choose(128.toChar, 65535.toChar),         // BMP incl. surrogates
      1 -> Gen.const(0xd800.toChar),                     // lone high surrogate
      1 -> Gen.const(0xdfff.toChar))                     // lone low surrogate
    val anyChars: Gen[String] = for {
      n <- Gen.choose(0, 120)
      cs <- Gen.listOfN(n, charGen)
    } yield new String(cs.toArray)
    check("unicode fuzz", Prop.forAll(anyChars) { s =>
      val u = UTF8String.fromString(s)
      functions.OnePermMinHash.computeGrams(u, 3, 126, 42L).numElements() == 126 &&
        functions.LangIdNgram.scores(u).numElements() >= 0
    }, cases = 300)
  }

  test("sorted_jaccard merge walk == set-op jaccard on random sorted-distinct arrays") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val arr: Gen[Array[Long]] = for {
      n <- Gen.choose(0, 60)
      xs <- Gen.listOfN(n, Gen.choose(-50L, 50L)) // tight range forces overlap
    } yield xs.distinct.sorted.toArray
    check("sorted jaccard", Prop.forAll(Gen.zip(arr, arr)) { case (a, b) =>
      val lit = (x: Array[Long]) => Literal.create(x.toSeq, ArrayType(LongType))
      val got = functions.SortedJaccard(lit(a), lit(b)).eval(null).asInstanceOf[Double]
      val (sa, sb) = (a.toSet, b.toSet)
      val expect = if ((sa | sb).isEmpty) 0.0 else (sa & sb).size.toDouble / (sa | sb).size
      math.abs(got - expect) < 1e-12
    })
  }

  test("bit_pack_sign + hamming_dist == sign-mismatch count for random float vectors") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import org.apache.spark.sql.catalyst.util.ArrayData
    val vec: Gen[Array[Float]] = for {
      n <- Gen.choose(1, 200)
      xs <- Gen.listOfN(n, Gen.choose(-100f, 100f))
    } yield xs.toArray
    val pair = for { a <- vec; b <- Gen.listOfN(a.length, Gen.choose(-100f, 100f)) }
      yield (a, b.toArray)
    check("bit pack + hamming", Prop.forAll(pair) { case (a, b) =>
      def pack(v: Array[Float]) = functions.BitPackSign(
        Literal.create(v.toSeq, ArrayType(FloatType))).eval(null)
      val pa = pack(a).asInstanceOf[ArrayData]; val pb = pack(b).asInstanceOf[ArrayData]
      def lit(x: ArrayData) = Literal.create(x.toLongArray().toSeq,
        ArrayType(org.apache.spark.sql.types.LongType))
      val ham = functions.HammingDistance(lit(pa), lit(pb)).eval(null).asInstanceOf[Long]
      val expect = a.zip(b).count { case (x, y) => (x >= 0) != (y >= 0) }
      ham == expect.toLong
    })
  }

  test("BPE encode/decode is lossless for arbitrary unicode text") {
    // strings from mixed ascii/BMP (well-formed; byte-level BPE is
    // defined over UTF-8 bytes, so any well-formed string must roundtrip)
    val wellFormed: Gen[String] = for {
      n <- Gen.choose(0, 200)
      gens = Gen.frequency[Char](
        6 -> Gen.choose(32.toChar, 126.toChar),
        2 -> Gen.choose(160.toChar, 0x2fff.toChar),
        1 -> Gen.oneOf(' ', '\n', '\t'))
      cs <- Gen.listOfN(n, gens)
    } yield new String(cs.toArray)
    check("bpe roundtrip", Prop.forAll(wellFormed) { s =>
      val ids = functions.Bpe.encode(s)
      new String(functions.Bpe.decode(ids), "UTF-8") == s
    })
  }

  test("DeletePlan.apply is idempotent and accounts for every fragment") {
    // the commit-time fold (drop / attach-DV / keep) must be a projection:
    // applying the same plan to its own output changes nothing (a retried
    // commit that re-folds an already-folded fragment list is a no-op),
    // dropped paths never survive, fully-deleted fragments leave, and
    // everything else keeps its identity
    import graft.sources.lance.{DeleteVectorMeta, FragmentMeta, LanceDelete}
    val frag: Gen[FragmentMeta] = for {
      id <- Gen.identifier
      rows <- Gen.choose(1L, 1000L)
    } yield FragmentMeta(s"data/$id.parquet", rows, rows * 100, Map.empty)
    val gen = for {
      n <- Gen.choose(0, 20)
      frags0 <- Gen.listOfN(n, frag)
      frags = frags0.distinctBy(_.path)
      dropMask <- Gen.listOfN(frags.length, Gen.prob(0.3))
      dvMask <- Gen.listOfN(frags.length, Gen.prob(0.4))
      dvCounts <- Gen.listOfN(frags.length, Gen.choose(0.0, 1.2)) // >1 ⇒ full
    } yield {
      val dropped = frags.zip(dropMask).collect { case (f, true) => f.path }.toSet
      val dvs = frags.zip(dvMask).zip(dvCounts).collect {
        case ((f, true), frac) if !dropped(f.path) =>
          f.path -> DeleteVectorMeta(s"dv/${f.path}",
            math.min(f.rows, math.ceil(f.rows * frac).toLong))
      }.toMap
      val touched = frags.filter(f => dropped(f.path) || dvs.contains(f.path))
      (LanceDelete.DeletePlan(dropped, dvs, touched), frags)
    }
    check("delete plan fold", Prop.forAll(gen) { case (plan, frags) =>
      val once = plan(frags)
      val twice = plan(once)
      val expectGone = frags.count(f => plan.droppedPaths(f.path) ||
        plan.newDvs.get(f.path).exists(_.count >= f.rows))
      twice == once &&
        once.forall(f => !plan.droppedPaths(f.path)) &&
        once.length == frags.length - expectGone &&
        once.forall(f => plan.newDvs.get(f.path).forall(d =>
          f.deletes.contains(d) && d.count < f.rows)) &&
        // untouched fragments pass through identical
        frags.filter(f => !plan.droppedPaths(f.path) && !plan.newDvs.contains(f.path))
          .forall(f => once.contains(f))
    }, cases = 300)
  }

  test("Bloom never false-negatives; Hll merge == union register-wise") {
    // the two sketch laws every pruning/approx consumer depends on: a
    // bloom built from N hashes answers true for EVERY inserted hash (a
    // false negative would silently prune live fragments), and merging
    // two HLLs equals feeding the union into one (streamed DAU-HLL ==
    // batch is gated on exactly this)
    import graft.sources.lance.{Bloom, Hll}
    val keys: Gen[Array[Long]] = for {
      n <- Gen.choose(1, 500)
      xs <- Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue))
    } yield xs.toArray
    check("bloom no-false-negative", Prop.forAll(keys) { ks =>
      val hs = ks.map(Bloom.hashLong)
      val b = Bloom.build(hs, hs.length)
      hs.forall(b.mightContain)
    }, cases = 300)
    check("hll merge == union", Prop.forAll(Gen.zip(keys, keys)) { case (a, b) =>
      val ha = new Hll(); a.foreach(ha.addLong)
      val hb = new Hll(); b.foreach(hb.addLong)
      val hu = new Hll(); (a ++ b).foreach(hu.addLong)
      ha.merge(hb).registers.sameElements(hu.registers)
    })
  }

  test("audioSignShingles: a window-aligned trim loses at most t+k shingles and invents none") {
    // the law mm_audio_dedup_trim's linear-Jaccard-degradation claim
    // rests on: cutting t whole windows off the front removes only the
    // shingles overlapping the cut (the sign sequence past it is
    // untouched), so trim-shingles ⊆ original and the set difference is
    // bounded — never a wholesale re-keying (the failure mode of the
    // length-relative fingerprint this key exists to fix)
    val gen = for {
      m <- Gen.choose(20, 60)                       // windows in the base clip
      t <- Gen.choose(1, 4)                         // windows trimmed
      samples <- Gen.listOfN(m * operators.Multimodal.AudioWin,
        Gen.choose(-1000, 1000))
    } yield (samples.map(_.toShort).toArray, t)
    check("trim shingle subset", Prop.forAll(gen) { case (s, t) =>
      val orig = operators.Multimodal.audioSignShingles(s).toSet
      val trimmed = operators.Multimodal
        .audioSignShingles(s.drop(t * operators.Multimodal.AudioWin)).toSet
      trimmed.subsetOf(orig) &&
        (orig.size - trimmed.size) <= t + operators.Multimodal.AudioShingleK
    })
  }

  test("fragment stats JSON round-trips exactly for every stat shape") {
    import graft.sources.lance.{ColStats, ManifestIO}
    import org.json4s.{JDouble, JLong, JString, JValue}
    val jv: Gen[JValue] = Gen.oneOf(
      Gen.choose(Long.MinValue / 2, Long.MaxValue / 2).map(JLong(_)),
      Gen.choose(-1e12, 1e12).map(JDouble(_)),
      Gen.alphaNumStr.map(JString(_)))
    val colStats: Gen[ColStats] = for {
      mn <- Gen.option(jv)
      mx <- Gen.option(jv)
      nulls <- Gen.option(Gen.choose(0L, 1000000L))
      sum <- Gen.option(Gen.choose(Long.MinValue / 2, Long.MaxValue / 2))
      distinct <- Gen.option(Gen.listOfN(3, Gen.alphaNumStr))
    } yield ColStats(mn, mx, nulls, sum, distinct.map(_.toSeq))
    val statsMap: Gen[Map[String, ColStats]] = for {
      n <- Gen.choose(0, 5)
      ks <- Gen.listOfN(n, Gen.identifier)
      vs <- Gen.listOfN(n, colStats)
    } yield ks.zip(vs).toMap
    check("stats json", Prop.forAll(statsMap) { m =>
      ManifestIO.statsFromJson(ManifestIO.statsToJson(m)) == m
    }, cases = 300)
  }

  test("DsirHash.walk == naive split+per-gram-hash for arbitrary unicode text") {
    // the walk computes each bigram hash INCREMENTALLY (prev token's hash
    // + 31^len power extension) — this property pins that algebra against
    // a from-scratch per-gram recompute over adversarial inputs: astral
    // code points (surrogate pairs), every ASCII whitespace flavor,
    // leading/trailing separators, empty and separator-only strings
    val tokenChar = Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('é', 'ß', '中', 'λ'),
      1 -> Gen.const(new String(Character.toChars(0x1F600)).charAt(0)), // high surrogate alone is invalid — use full pairs below
      1 -> Gen.oneOf('!', '~', ' ')) // NBSP is NOT \s — a token char
    val token = for {
      n <- Gen.choose(1, 8)
      cs <- Gen.listOfN(n, Gen.frequency(
        8 -> tokenChar.map(_.toString),
        1 -> Gen.const(new String(Character.toChars(0x1F600))), // 😀 (astral)
        1 -> Gen.const(new String(Character.toChars(0x10348))))) // 𐍈
    } yield cs.mkString
    val ws = Gen.oneOf(" ", "\t", "\n", "", "\f", "\r", "  ", " \t ")
    val text = for {
      k <- Gen.choose(0, 6)
      ts <- Gen.listOfN(k, token)
      seps <- Gen.listOfN(k + 1, Gen.frequency(3 -> ws, 1 -> Gen.const("")))
    } yield seps.head + ts.zip(seps.tail).map { case (t, w) => t + w }.mkString
    def naive(s: String): (Long, List[Int]) = {
      val w = s.split("\\s+").filter(_.nonEmpty).toList
      val grams = w ++ w.zip(w.drop(1)).map { case (a, b) => a + " " + b }
      def bucket(g: String): Int = {
        var h = 0L; var i = 0
        while (i < g.length) {
          val cp = g.codePointAt(i)
          h = (h * 31 + cp) % 1000000007L
          i += Character.charCount(cp)
        }
        (h % graft.functions.DsirHash.Buckets).toInt
      }
      (grams.length.toLong, grams.map(bucket))
    }
    check("dsir walk", Prop.forAll(text) { s =>
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      val n = graft.functions.DsirHash.walk(s, b => { out += b; () })
      val (en, ebs) = naive(s)
      // the walk interleaves (uni, bi) per position; compare as multisets
      n == en && out.sorted.toList == ebs.sorted
    }, cases = 300)
  }

  test("MmrSelect.select == naive greedy for random integer candidate sets") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val gen = for {
      n <- Gen.choose(1, 12)
      k <- Gen.choose(1, 15)
      qsims <- Gen.listOfN(n, Gen.choose(-1000000L, 1000000L))
      psims <- Gen.listOfN(n * n, Gen.choose(-1000000L, 1000000L))
      ids <- Gen.pick(n, 0L until 50L) // distinct doc ids
    } yield (n, k, ids.toList, qsims, psims)
    check("mmr greedy", Prop.forAll(gen) { case (n, k, ids, qsims, psims) =>
      val cands = new GenericArrayData((0 until n).map(i =>
        new GenericInternalRow(Array[Any](i + 1, ids(i), qsims(i)))).toArray[Any])
      val pairs = new GenericArrayData((for {
        a <- 0 until n; b <- 0 until n if a != b
      } yield new GenericInternalRow(
        Array[Any](a + 1, b + 1, psims(a * n + b)))).toArray[Any])
      val got = {
        val arr = graft.functions.MmrSelect.select(cands, pairs, k)
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 4)
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }.toList
      }
      // naive greedy, fresh implementation
      val selected = scala.collection.mutable.ArrayBuffer[Int]()
      val expected = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
      for (step <- 1 to math.min(k, n)) {
        val pick = (0 until n).filterNot(selected.contains)
          .map { i =>
            val red = selected.map(s => psims(i * n + s)).maxOption
            (i, red.fold(qsims(i))(qsims(i) - _))
          }
          .minBy { case (i, score) => (-score, ids(i)) }
        selected += pick._1
        expected += ((ids(pick._1), step.toLong, qsims(pick._1), pick._2))
      }
      got == expected.toList
    }, cases = 300)
  }
}
