package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.json4s.JValue
import org.json4s.jackson.JsonMethods.{compact, render}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** The one measurement harness behind graft's mains (Verify, Bench, Soak,
  * FamilySoak): the session they run on, the listener that records what
  * Spark did, and the JSON they emit. */
object Harness {
  /** Input tables: SPARK_GRAFT_SF_DIR, default sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Local cores: SPARK_GRAFT_CPUS, default 4. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int = raw.fold(4) { v =>
    v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** `local[cores]` with one shuffle partition per core unless `partitions`
    * says otherwise. events.parquet stores NANOS timestamps, readable only
    * as longs (`Tables.t` converts them). */
  def session(cores: Int = cpus, partitions: Option[Int] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.getOrElse(cores).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A soak main's arguments: leading integers (its scales), then the names
    * of the stages to run (none = all). */
  def soakArgs(args: Array[String], stages: Seq[String]): (Seq[Int], String => Boolean) = {
    val (scales, names) = args.toSeq.span(a => a.nonEmpty && a.forall(_.isDigit))
    val unknown = names.diff(stages)
    require(unknown.isEmpty,
      s"unknown stage(s) ${unknown.mkString(", ")}; stages: ${stages.mkString(" ")}")
    (scales.map(_.toInt), s => names.isEmpty || names.contains(s))
  }

  def json(v: JValue): String = compact(render(v))

  def secs(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Run `f` as one named soak step: prints its wall, the max task peak
    * execution memory and max task run time of the stages it ran, and its
    * three stages with the highest peak (a growing peak names its stage). */
  def timed[T](tag: String, name: String, cap: Capture)(f: => T): (T, Double) = {
    val mark = cap.mark
    val t0 = System.nanoTime()
    val r = f
    val dt = (System.nanoTime() - t0) / 1e9
    val ss = cap.stagesAfter(mark)
    println(f"[$tag] $name%-42s $dt%8.2f s  " +
      f"peakTaskMem=${ss.map(_.peakMem).maxOption.getOrElse(0L) / 1e6}%7.1f MB  " +
      f"maxTask=${ss.map(_.maxTaskMs).maxOption.getOrElse(0L) / 1e3}%6.1f s")
    ss.sortBy(-_.peakMem).take(3).foreach { st =>
      println(f"[$tag]     stage ${st.id}%5d: peak ${st.peakMem / 1e6}%7.1f MB over " +
        f"${st.tasks}%4d tasks, task max/mean ${st.maxTaskMs}/${st.meanTaskMs} ms")
    }
    (r, dt)
  }

  final case class Job(id: Int, start: Long, desc: String, stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }

  final class Stage(val id: Int, val name: String) {
    var runMs, maxTaskMs, peakMem = 0L
    var tasks = 0
    def meanTaskMs: Long = if (tasks == 0) 0L else runMs / tasks
  }

  /** Everything graft's mains measure, from one listener: per job (id,
    * start, end, description), per stage (task run ms, max task run ms,
    * max task peak execution memory, task count) and every streaming
    * progress event. Streaming progress reaches it through the SparkContext
    * bus, so queries of any session count. Every read first flushes the
    * (asynchronous) listener bus. */
  final class Capture private (spark: SparkSession) extends SparkListener {
    private val jobMap = new ConcurrentHashMap[Int, Job]()
    private val stageMap = new ConcurrentHashMap[Int, Stage]()
    private val progressQ = new ConcurrentLinkedQueue[StreamingQueryProgress]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val desc = prop("spark.job.description").filter(_.nonEmpty)
        .orElse(prop("callSite.short")).getOrElse("")
      jobMap.put(e.jobId, Job(e.jobId, e.time, desc, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobMap.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageMap.putIfAbsent(e.stageInfo.stageId, new Stage(e.stageInfo.stageId, e.stageInfo.name))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val st = stageMap.computeIfAbsent(e.stageId, id => new Stage(id, ""))
      val ms = e.taskMetrics.executorRunTime
      st.synchronized {
        st.runMs += ms; st.tasks += 1
        st.maxTaskMs = math.max(st.maxTaskMs, ms)
        st.peakMem = math.max(st.peakMem, e.taskMetrics.peakExecutionMemory)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => progressQ.add(p.progress)
      case _ =>
    }

    private def flush(): Unit =
      org.apache.spark.sql.graft.Shim.waitUntilEmpty(spark.sparkContext)

    def clear(): Unit = { flush(); jobMap.clear(); stageMap.clear(); progressQ.clear() }
    def jobs: Seq[Job] = { flush(); jobMap.values.asScala.toSeq.sortBy(j => (j.start, j.id)) }
    def stages: Seq[Stage] = { flush(); stageMap.values.asScala.toSeq.sortBy(_.id) }
    def progress: Seq[StreamingQueryProgress] = { flush(); progressQ.asScala.toSeq }

    /** The last stage id seen so far; `stagesAfter(mark)` are the stages
      * run since (stage ids only grow). */
    def mark: Int = stages.lastOption.fold(-1)(_.id)
    def stagesAfter(mark: Int): Seq[Stage] = stages.filter(_.id > mark)

    /** The highest job id seen so far; `jobsAfter(mark)` are the jobs
      * started since (job ids only grow). */
    def jobMark: Int = jobs.map(_.id).maxOption.getOrElse(-1)
    def jobsAfter(mark: Int): Seq[Job] = jobs.filter(_.id > mark)

    /** Bench's streaming denominators: batches, input rows, sink rows
      * (sinks that report a count), zero entries dropped. */
    def streamCounts: Seq[(String, Long)] = {
      val ps = progress
      Seq("batches" -> ps.size.toLong,
        "inputRows" -> ps.map(_.numInputRows).sum,
        "sinkRows" -> ps.flatMap(p => Option(p.sink)).map(_.numOutputRows).filter(_ > 0).sum)
        .filter(_._2 != 0L)
    }
  }

  object Capture {
    def attach(spark: SparkSession): Capture = {
      val c = new Capture(spark)
      spark.sparkContext.addSparkListener(c)
      c
    }
  }
}
