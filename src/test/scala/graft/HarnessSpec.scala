package graft

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.parse

import java.nio.file.Files

/** The measurement harness's own contracts: env validation, the two JSON
  * artifacts other tools parse, and the listener capture Bench reads. */
class HarnessSpec extends SparkSpec {

  test("SPARK_GRAFT_CPUS: a positive integer or unset; anything else names the variable") {
    assert(Harness.parseCpus(None) === 4)
    assert(Harness.parseCpus(Some("8")) === 8)
    for (bad <- Seq("0", "-2", "four", "2.5", "")) {
      val e = intercept[IllegalArgumentException](Harness.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("oracle_sql.json round-trips SQL with quotes, backslashes and control characters") {
    val oracles = Map(
      "quoted" -> "SELECT 'a\"b' AS q, '\\\\d+' AS re",
      "controls" -> "SELECT 1\tAS a,\r\n 2 AS b -- \u0001 end")
    val text = Verify.oracleJson(oracles)
    assert(!text.exists(_ < ' '), "control characters must be escaped")
    val JObject(fields) = parse(text)
    assert(fields.collect { case (k, JString(v)) => k -> v }.toMap === oracles)
  }

  test("the bench line keeps one line, the `\"name\":{` form and the fixed field order") {
    val line = Bench.benchLine(1.5, Seq("q1" -> 0.5, "k\"2" -> 1.0), Seq("bad" -> "boom\nline"),
      Seq("q1" -> 0.1), Seq("ivf_flat_build" -> 2.0),
      Seq("q_stream" -> Seq("batches" -> 4L, "inputRows" -> 10L, "commits" -> 2L)),
      Seq("q1" -> "abc:12"), "/data/sf0.1")
    assert(!line.contains("\n"))
    val order = Seq("metric", "value", "unit", "queries", "errors", "noise", "builds",
      "data", "plans", "notes", "sf")
    val JObject(top) = parse(line)
    assert(top.map(_._1) === order)
    order.filterNot(Set("metric", "value", "unit", "sf")).foreach { name =>
      assert(line.contains(s""""$name":{"""), name)
    }
    assert(line.contains(""""q_stream":{"batches":4,"inputRows":10,"commits":2}"""))
  }

  test("capture: jobs, stages and streaming progress of any query on the context") {
    val cap = Harness.Capture.attach(spark)
    val src = Files.createTempDirectory("graft-capture-src-").toString
    spark.range(100).selectExpr("id", "id % 7 AS k").repartition(2)
      .write.mode("overwrite").parquet(src)
    cap.clear()
    assert(spark.range(1000).repartition(3).count() === 1000L)
    assert(cap.jobs.nonEmpty && cap.jobs.forall(_.end >= 0))
    assert(cap.stages.map(_.tasks).sum >= 3)
    assert(cap.progress.isEmpty && cap.streamCounts.isEmpty)
    val q = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream.format("noop")
      .option("checkpointLocation", Files.createTempDirectory("graft-capture-ck-").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000L))
    val counts = cap.streamCounts.toMap
    assert(counts("batches") === q.recentProgress.length.toLong)
    assert(counts("inputRows") === 100L)
    spark.sparkContext.removeSparkListener(cap)
  }
}
