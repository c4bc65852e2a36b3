package graft.perfbench

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.functions.col
import org.json4s._

import graft.operators.StreamingOps
import graft.sources.lance.ManifestIO

/** `ingest`: text arrivals land one parquet file at a time in a staging
  * dir; after each, the streaming near-dup ingest resumes from its
  * checkpoint, drains (one micro-batch) and the arrival's pairs are read
  * back from the destination table. Commits, bucketed appends, growing
  * manifest history, compaction and the streaming machinery; little
  * vector work. */
object Ingest {
  /** Two, so set-up also compiles the plans of a batch that probes
    * existing history (the first batch of a stream has none); with one,
    * the first timed arrivals paid that compilation. */
  val WarmArrivals = 2
  /** Compaction cadence passed to the entry point. An arrival costs
    * seconds, so a run's window holds a handful of arrivals and the
    * default cadence of 16 batches would fold the state tables in no run
    * at all; with 3, every run holds whole compaction cycles. */
  val CompactEvery = 3
  val MinCycles = 1

  final case class Stream(base: java.nio.file.Path) {
    val src: String = base.resolve("src").toString
    val ckpt: String = base.resolve("ckpt").toString
    val dst: String = base.resolve("dst").toString
    val keys: String = base.resolve("keys").toString
    val sets: String = base.resolve("sets").toString
    def tables: Seq[String] = Seq(dst, keys, sets)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val arrivals = ctx.in.resolve("arrivals")
    val nFiles = Files.list(arrivals).count().toInt
    var landedBytes = 0L

    def land(st: Stream, k: Int): Unit = {
      val name = f"part-$k%05d.parquet"
      val from = arrivals.resolve(name)
      val dir = java.nio.file.Paths.get(st.src)
      Files.createDirectories(dir)
      val tmp = dir.resolve(s".$name.tmp")
      Files.copy(from, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      landedBytes += Files.size(from)
    }

    def ingest(st: Stream, k: Int): JValue = {
      StreamingOps.streamNearDedupAt(spark, ctx.in.toString, st.keys, st.sets,
        srcDir0 = st.src, ckpt0 = st.ckpt, dst0 = st.dst, compactEvery = CompactEvery)
      val lo = k * 1000L
      val pairs = spark.read.format("lance").load(st.dst)
        .filter(col("b_id").between(lo, lo + 999))
        .select("a_id", "b_id", "jaccard").collect()
      JObject("arrival" -> JInt(k), "pairs" -> Ctx.rowsJson(pairs))
    }

    var st: Stream = null
    for (rep <- 0 until Ctx.SetupReps) ctx.setup {
      st = Stream(ctx.work.resolve(s"stream_$rep"))
      landedBytes = 0L
      for (k <- 0 until WarmArrivals) { land(st, k); ingest(st, k) }
    }
    val before = st.tables.map(Ctx.listing(_, ctx.hadoopConf))
    var manifestLoadsMs = Vector.empty[Double]
    var next = WarmArrivals
    // the window ends only on a compaction cycle boundary after at least
    // MinCycles cycles, so every run holds the same share of compacting
    // arrivals
    def cycleDone = (next - WarmArrivals) % CompactEvery == 0 &&
      next - WarmArrivals >= MinCycles * CompactEvery
    ctx.timed {
      while (!(ctx.expired && cycleDone) && next < nFiles) {
        val k = next
        land(st, k)
        ctx.op(s"a$k", "arrival")(ingest(st, k))
        next += 1
        if (ctx.trace) st.tables.foreach { t =>
          val s = System.nanoTime()
          ManifestIO.loadLatest(t, ctx.hadoopConf)
          manifestLoadsMs :+= (System.nanoTime() - s) / 1e6
        }
      }
    }
    val after = st.tables.map(Ctx.listing(_, ctx.hadoopConf))
    ctx.extra("arrivals_landed", JInt(next))
    ctx.extra("landed_bytes", JLong(landedBytes))
    ctx.extra("stored_bytes", JLong(after.map(_._1).sum))
    ctx.extra("data_files_written", JInt(after.map(_._2).sum - before.map(_._2).sum))
    ctx.extra("commits", JInt(after.map(_._3).sum - before.map(_._3).sum))
    ctx.extra("live_fragments_end", JInt(st.tables.map(t =>
      ManifestIO.loadLatest(t, ctx.hadoopConf).map(_.fragments.size).getOrElse(0)).sum))
    if (ctx.trace) {
      ctx.extra("manifest_load_ms", JArray(manifestLoadsMs.map(JDouble(_)).toList))
      val texts = spark.read.parquet(st.src).select("text").collect().map(_.getString(0))
      Kernels.bandKeys(ctx, texts)
    }
  }
}
