package graft.perfbench

import org.json4s._

/** `serve`: one persisted, IVF_PQ-indexed Lance table; a closed-loop
  * stream of `CALL system.knn` top-10 queries and SQL scans against it.
  * Zero commits, no streaming: the read path only. */
object Serve {
  val IndexOptions: Map[String, String] = Map(
    "index.type" -> "IVF_PQ", "index.num-partitions" -> "16",
    "index.num-sub-vectors" -> "16", "index.num-bits" -> "4")
  /** ADC ranks k × refine candidates, then exact distances re-rank them. */
  val RefineFactor = 20
  val MinRounds = 2

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val vectors = spark.read.parquet(ctx.in.resolve("vectors.parquet").toString)
    val warm = ctx.readJsonLines(ctx.in.resolve("warm_ops.jsonl"))
    val ops = ctx.readJsonLines(ctx.in.resolve("ops.jsonl"))
    var table = ""
    var buildWalls = Vector.empty[Double]
    for (rep <- 0 until Ctx.SetupReps) ctx.setup {
      table = s"vecs_$rep"
      val s = System.nanoTime()
      graft.operators.IndexBuild.build(spark, vectors, root(ctx, table), IndexOptions)
      buildWalls :+= (System.nanoTime() - s) / 1e9
      warm.foreach(o => answer(ctx, o, table))
    }
    ctx.extra("index_build_s", JArray(buildWalls.map(JDouble(_)).toList))
    val (bytes, files, _) = Ctx.listing(root(ctx, table), ctx.hadoopConf)
    ctx.extra("stored_bytes", JLong(bytes))
    ctx.extra("data_files", JInt(files))

    // the window ends only on a round boundary after at least MinRounds
    // rounds, so every run holds the same mix of op shapes and at least
    // 8 × MinRounds knn latencies
    ctx.timed {
      var i = 0
      def roundDone = i > 0 && (i == ops.length || round(ops(i)) != round(ops(i - 1))) &&
        round(ops(i - 1)) >= MinRounds - 1
      while (!(ctx.expired && roundDone) && i < ops.length) {
        val o = ops(i)
        ctx.op(str(o, "id"), str(o, "type"))(answer(ctx, o, table))
        i += 1
      }
    }
    if (ctx.trace) Kernels.serve(ctx, root(ctx, table))
  }

  def root(ctx: Ctx, table: String): String = ctx.warehouse.resolve("db").resolve(table).toString

  private def str(o: JValue, k: String): String = (o \ k).asInstanceOf[JString].s

  private def round(o: JValue): BigInt = (o \ "round").asInstanceOf[JInt].num

  /** One op through SQL: `CALL system.knn` or a scan statement. */
  private def answer(ctx: Ctx, o: JValue, table: String): JValue = {
    val sql = str(o, "type") match {
      case "knn" =>
        val q = (o \ "query").asInstanceOf[JArray].arr.map {
          case JDouble(d) => d
          case JInt(i) => i.toDouble
          case other => throw new IllegalArgumentException(s"bad query element $other")
        }
        val filter = str(o, "filter").replace("'", "''")
        s"CALL ${Ctx.Cat}.system.knn(table => 'db.$table', " +
          s"query => array(${q.map(d => s"${d}D").mkString(", ")}), k => 10, " +
          s"nprobes => ${(o \ "nprobes").asInstanceOf[JInt].num}, " +
          s"refine_factor => $RefineFactor, filter => '$filter')"
      case "scan" => str(o, "sql").replace("{table}", s"${Ctx.Cat}.db.$table")
    }
    val rows = ctx.spark.sql(sql).collect()
    Ctx.rowsJson(rows)
  }
}
