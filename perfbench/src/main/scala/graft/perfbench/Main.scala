package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Drives one workload against graft and records what it saw.
  *
  * {{{
  *   java -cp <classpath> graft.perfbench.Main \
  *     --workload serve|ingest|curate --work <dir> --seconds <n> --trace 0|1
  * }}}
  *
  * Inputs are read from `<work>/inputs` (written by gen.py); every op's
  * wall time and answer go to `<work>/out/results.jsonl`, run-level
  * figures to `<work>/out/run.json` and, when tracing, spans to
  * `<work>/out/spans.jsonl`. Checking answers and turning records into
  * metrics is run.py's job: this program only drives and times. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val ctx = new Ctx(Paths.get(a("work")), a("seconds").toDouble, a("trace") == "1",
      a.get("cores").map(_.toInt).getOrElse(4))
    try {
      workload match {
        case "serve" => Serve.run(ctx)
        case "ingest" => Ingest.run(ctx)
        case "curate" => Curate.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.finish()
    } finally ctx.spark.stop()
  }
}

/** One run's session, clock, op recorder and (optional) tracer. */
final class Ctx(val work: Path, seconds: Double, val trace: Boolean, val cores: Int) {
  val in: Path = work.resolve("inputs")
  val out: Path = work.resolve("out")
  val warehouse: Path = work.resolve("wh")
  Files.createDirectories(out)
  Files.createDirectories(warehouse)

  private val t0 = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    .config(s"spark.sql.catalog.${Ctx.Cat}", "graft.sources.lance.LanceCatalog")
    .config(s"spark.sql.catalog.${Ctx.Cat}.warehouse", warehouse.toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${Ctx.Cat}.db")
  val sessionStartS: Double = (System.nanoTime() - t0) / 1e9

  val tracer: Option[Tracer] = if (trace) Some(Tracer.install(spark)) else None

  private val results = new StringBuilder
  private var setupWalls = Vector.empty[Double]
  private var deadline = Long.MaxValue
  private var windowStart = 0L
  private var windowEnd = 0L
  private var liveHeapMb = 0.0
  private var refMs = Vector.empty[Double]
  private val extras = scala.collection.mutable.LinkedHashMap[String, JValue]()

  def hadoopConf: org.apache.hadoop.conf.Configuration = spark.sparkContext.hadoopConfiguration

  /** Run one set-up repetition, timed into `setup_s`. */
  def setup[T](body: => T): T = {
    val s = System.nanoTime()
    val r = withOp("setup")(body)
    setupWalls :+= (System.nanoTime() - s) / 1e9
    r
  }

  /** The timed window: `body` runs ops until [[expired]]. The reference
    * query is timed just before and just after the window, never between
    * ops. */
  def timed(body: => Unit): Unit = {
    // not recorded: the first runs of the query compile its plan and code
    (0 until Ctx.ReferenceWarmups).foreach(_ => spark.sql(Ctx.ReferenceSql).collect())
    (0 until Ctx.ReferenceReps).foreach(_ => reference())
    windowStart = System.currentTimeMillis()
    deadline = System.nanoTime() + (seconds * 1e9).toLong
    tracer.foreach(_.mark("window", windowStart))
    body
    windowEnd = System.currentTimeMillis()
    (0 until Ctx.ReferenceReps).foreach(_ => reference())
    liveHeapMb = Ctx.liveHeapMb()
  }

  def expired: Boolean = System.nanoTime() >= deadline

  /** Run one timed op: its jobs carry the op id as a local property (the
    * tracer's link from Spark jobs to ops), its wall and answer are
    * recorded, and a thrown error becomes a failed op. */
  def op(id: String, kind: String)(body: => JValue): Unit = {
    val startMs = System.currentTimeMillis()
    val read0 = Ctx.fsBytesRead()
    val s = System.nanoTime()
    val (ok, answer, err) =
      try { val r = withOp(id)(body); (true, r, "") }
      catch { case scala.util.control.NonFatal(e) => (false, JNull, String.valueOf(e)) }
    val wallMs = (System.nanoTime() - s) / 1e6
    val endMs = System.currentTimeMillis()
    record(JObject("id" -> JString(id), "type" -> JString(kind), "ok" -> JBool(ok),
      "wall_ms" -> JDouble(wallMs), "start" -> JLong(startMs), "end" -> JLong(endMs),
      "fs_read_bytes" -> JLong(Ctx.fsBytesRead() - read0),
      "error" -> JString(err), "result" -> answer))
  }

  /** Time one fixed, graft-free Spark SQL query (parse, plan, one job of
    * 4 tasks). Its wall tracks the host's speed, which drifts by tens of
    * percent over minutes on a shared machine; metrics.py divides that
    * drift out of the JVM program's timings. */
  private def reference(): Unit = {
    val s = System.nanoTime()
    spark.sql(Ctx.ReferenceSql).collect()
    refMs :+= (System.nanoTime() - s) / 1e6
  }

  private def withOp[T](id: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Ctx.OpKey)
    sc.setLocalProperty(Ctx.OpKey, id)
    try body finally sc.setLocalProperty(Ctx.OpKey, prev)
  }

  def record(j: JValue): Unit = results.append(compact(render(j))).append('\n')

  /** A run-level figure for run.json (stage walls, listings, kernels). */
  def extra(k: String, v: JValue): Unit = extras(k) = v

  def finish(): Unit = {
    Files.write(out.resolve("results.jsonl"), results.toString.getBytes(StandardCharsets.UTF_8))
    tracer.foreach(_.write(out.resolve("spans.jsonl"), spark))
    val run = JObject(List(
      "session_start_s" -> JDouble(sessionStartS),
      "setup_reps_s" -> JArray(setupWalls.map(JDouble(_)).toList),
      "window_start" -> JLong(windowStart), "window_end" -> JLong(windowEnd),
      "cores" -> JInt(cores),
      "live_heap_mb" -> JDouble(liveHeapMb),
      "ref_ms" -> JArray(refMs.map(JDouble(_)).toList),
      "peak_rss_mb" -> JDouble(Ctx.peakRssMb())) ++ extras.toList)
    Files.write(out.resolve("run.json"), compact(render(run)).getBytes(StandardCharsets.UTF_8))
  }

  def readJsonLines(p: Path): Vector[JValue] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map(parse(_)).toVector
  }
}

object Ctx {
  val Cat = "bench"
  val OpKey = "perfbench.op"
  val SetupReps = 3
  val ReferenceSql = "SELECT sum(id % 7), max(id % 1009) FROM range(0, 400000, 1, 4)"
  /** Reference timings before the window, and again after it. */
  val ReferenceReps = 5
  /** Unrecorded runs first: with one, the timings before the window still
    * read about a third above those after it. */
  val ReferenceWarmups = 8

  /** Bytes read so far through Hadoop file systems by every thread of this
    * JVM: Spark's parquet readers of Lance data files, manifest and index
    * sidecar reads. With one client in a closed loop, the difference
    * around an op is what that op read. */
  def fsBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum
  }

  /** Heap the session still holds after the timed window, in MiB: used
    * heap after full collections, i.e. what graft keeps live (caches,
    * checkpoints, state) rather than how far the collector let garbage
    * grow. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 2).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** High-water resident set of this JVM (Linux `VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Bytes and file counts under a table root: data files, manifests and
    * everything else (index sidecars, delete vectors). */
  def listing(root: String, conf: org.apache.hadoop.conf.Configuration): (Long, Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return (0L, 0, 0)
    val it = fs.listFiles(p, true)
    var bytes = 0L; var data = 0; var manifests = 0
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith(".")) {
        bytes += f.getLen
        if (f.getPath.getParent.getName == graft.sources.lance.ManifestIO.DataDir) data += 1
        if (name.endsWith(".manifest.json")) manifests += 1
      }
    }
    (bytes, data, manifests)
  }

  def rowsJson(rows: Array[org.apache.spark.sql.Row]): JValue =
    JArray(rows.toList.map(r => JArray((0 until r.length).toList.map(i => value(r.get(i))))))

  def value(v: Any): JValue = v match {
    case null => JNull
    case l: java.lang.Long => JLong(l)
    case i: java.lang.Integer => JLong(i.longValue())
    case d: java.lang.Double => JDouble(d)
    case f: java.lang.Float => JDouble(f.doubleValue())
    case b: java.lang.Boolean => JBool(b)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case other => JString(other.toString)
  }
}
