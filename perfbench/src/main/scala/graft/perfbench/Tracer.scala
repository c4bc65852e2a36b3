package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Spans seen from outside graft: Spark jobs and stages from a
  * SparkListener, micro-batches from a StreamingQueryListener. A job's
  * parent is the op whose id the client thread had set as the
  * [[Ctx.OpKey]] local property when the job was submitted (stream
  * execution threads inherit it from the thread that starts the query);
  * a stage's parent is its job. Spans stay in memory until [[write]]. */
final class Tracer private () extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, JValue]]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[JValue]()
  private val batches = mutable.ArrayBuffer[JValue]()
  private val marks = mutable.ArrayBuffer[JValue]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Ctx.OpKey))).getOrElse("")
    jobs(e.jobId) = mutable.Map("kind" -> JString("job"), "id" -> JString(s"j${e.jobId}"),
      "parent" -> JString(op), "start" -> JLong(e.time))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end") = JLong(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val job = stageJob.get(i.stageId).map(j => s"j$j").getOrElse("")
    def l(v: Long) = JLong(v)
    stages += JObject(
      "kind" -> JString("stage"), "id" -> JString(s"s${i.stageId}.${i.attemptNumber()}"),
      "parent" -> JString(job), "name" -> JString(i.name),
      "start" -> l(i.submissionTime.getOrElse(0L)), "end" -> l(i.completionTime.getOrElse(0L)),
      "tasks" -> JInt(i.numTasks),
      "run_ms" -> l(if (m == null) 0 else m.executorRunTime),
      "cpu_ms" -> JDouble(if (m == null) 0 else m.executorCpuTime / 1e6),
      "gc_ms" -> l(if (m == null) 0 else m.jvmGCTime),
      "input_rows" -> l(if (m == null) 0 else m.inputMetrics.recordsRead),
      "shuffle_write_bytes" -> l(if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> l(if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead),
      "spill_bytes" -> l(if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  private[perfbench] object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs
        def dur(k: String): Long = Option(d.get(k)).map(_.longValue()).getOrElse(0L)
        batches += JObject(
          "kind" -> JString("batch"), "id" -> JString(s"${p.runId}:${p.batchId}"),
          "parent" -> JString(""), "start" -> JLong(start),
          "end" -> JLong(start + dur("triggerExecution")),
          "trigger_ms" -> JLong(dur("triggerExecution")),
          "add_batch_ms" -> JLong(dur("addBatch")),
          "rows" -> JLong(p.numInputRows))
      }
  }

  def mark(name: String, at: Long): Unit = synchronized {
    marks += JObject("kind" -> JString("mark"), "id" -> JString(name), "start" -> JLong(at))
  }

  /** Spans in one file, after the listener bus has delivered every event. */
  def write(p: Path, spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val lines = synchronized {
      (marks ++ jobs.values.map(m => JObject(m.toList)) ++ stages ++ batches).map(j => compact(render(j)))
    }
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer()
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.streams)
    t
  }
}
