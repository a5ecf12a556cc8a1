package perfbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The stream workload: `graft.streaming.Streams.streamingNearDupSignal`
  * and `streamingNearDupImpact` read one in-memory feed. The loop is
  * closed: each micro-batch adds a fixed number of rows and the next is
  * added only after both queries have processed it.
  *
  * `stream feed=<tsv> out=<json> seconds=<n> trace=<0|1> warm=<batches>
  * min=<batches> lateness=<interval> window=<interval> scratch=<dir>`.
  * The feed has one row per line: batch, event time in ms, doc id, text.
  */
object StreamRun {
  type Row = (Timestamp, Long, String)

  def apply(opt: Map[String, String]): Unit = {
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val spark = Session.create()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    Main.mark("session")
    val feed: Array[Array[Row]] = {
      val src = scala.io.Source.fromFile(opt("feed"), "UTF-8")
      try src.getLines().map(_.split("\t", 4)).toArray
        .groupBy(_(0).toInt).toArray.sortBy(_._1)
        .map(_._2.map(f => (new Timestamp(f(1).toLong), f(2).toLong, f(3))))
      finally src.close()
    }
    Main.mark("ready")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Row]
    val docs = mem.toDF().toDF("ts", "doc_id", "text")
    val lateness = opt("lateness")
    val window = opt("window")
    def start(name: String, df: org.apache.spark.sql.DataFrame) =
      df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", s"${opt("scratch")}/ckpt/$name")
        .start()
    val b0 = System.nanoTime()
    val plans = Seq(
      "signal" -> graft.streaming.Streams.streamingNearDupSignal(docs,
        lateness, window),
      "impact" -> graft.streaming.Streams.streamingNearDupImpact(docs,
        lateness, window))
    val buildS = (System.nanoTime() - b0) / 1e9
    val queries: Seq[StreamingQuery] = plans.map { case (n, df) => start(n, df) }

    val tracer = new Tracer(spark)
    spark.sparkContext.addSparkListener(tracer)
    queries.foreach(q => tracer.streamNames.put(q.id.toString, q.name))
    val batches = ArrayBuffer.empty[Map[String, Any]]
    var b = 0
    /** Adds batch `b` and waits until both queries have processed it. */
    def step(timed: Boolean, parent: Long): Unit = {
      require(b < feed.length, s"feed exhausted after $b batches")
      val trace = s"b$b"
      val w0 = System.nanoTime(); val c0 = Main.cpuS
      val start = tracer.nowUs
      if (tracer.enabled) Main.heapPeakMb()
      tracer.span(s"feed batch $b", "feed", parent, trace) { bs =>
        tracer.streamParent = (bs, trace)
        mem.addData(feed(b).toSeq)
        queries.foreach(_.processAllAvailable())
      }
      var rec = Map[String, Any]("batch" -> b, "rows" -> feed(b).length,
        "wall_s" -> (System.nanoTime() - w0) / 1e9,
        "cpu_s" -> (Main.cpuS - c0), "traced" -> tracer.enabled)
      if (tracer.enabled) rec ++= Map(
        "job_covered_s" -> tracer.jobCoveredMs(start, tracer.nowUs) / 1e3,
        "heap_peak_mb" -> Main.heapPeakMb())
      if (timed) batches += rec
      b += 1
    }

    // as in a batch run: the first half of `seconds`, and at least `warm`
    // batches, warms up (the dedup state reaches its steady size after
    // three batches, but batch time and CPU keep falling until about the
    // seventh); the second half, and at least `min` batches, is reported,
    // and a traced run alternates untraced and traced batches there
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val t0 = System.nanoTime()
    step(timed = false, 0L)
    val coldS = since(t0)
    while (b < opt("warm").toInt || since(t0) < seconds / 2)
      step(timed = false, 0L)
    val t1 = System.nanoTime()
    tracer.enabled = traced
    tracer.span("stream_neardup", "workload", 0L, "run") { ws =>
      var k = 0
      while (k < opt("min").toInt || since(t1) < seconds / 2) {
        tracer.drain()
        tracer.enabled = traced && k % 2 == 1
        step(timed = true, ws); k += 1
      }
    }
    val execCtr = tracer.countersOf(tracer.spans.filter(_.kind ==
      "micro_batch").map(_.id))

    val progress = queries.map { q =>
      q.name -> q.recentProgress.filter(_.numInputRows > 0).map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        Map("batch_id" -> p.batchId, "rows" -> p.numInputRows,
          "duration_ms" -> d.toMap,
          "state" -> p.stateOperators.map(s => Map(
            "op" -> s.operatorName, "rows_total" -> s.numRowsTotal,
            "rows_updated" -> s.numRowsUpdated,
            "rows_removed" -> s.numRowsRemoved,
            "dropped_by_watermark" -> s.numRowsDroppedByWatermark,
            "memory_bytes" -> s.memoryUsedBytes,
            "commit_ms" -> s.commitTimeMs,
            "update_ms" -> s.allUpdatesTimeMs)).toList)
      }.toList
    }.toMap
    queries.foreach(_.stop())
    def sink(name: String) = spark.table(name).collect().map { r =>
      r.schema.fieldNames.zip(r.toSeq.map {
        case t: Timestamp => t.getTime
        case x => x
      }).toMap
    }.toList
    Main.writeJson(opt("out"), Map(
      "cold_pass_s" -> coldS, "batches_run" -> b, "timed" -> batches.toList,
      "build_s" -> buildS, "failures" -> Nil,
      "progress" -> progress,
      "signal" -> sink("signal"), "impact" -> sink("impact"),
      "exec" -> Map("jobs" -> execCtr.jobs, "stages" -> execCtr.stages,
        "tasks" -> execCtr.tasks, "task_s" -> execCtr.taskMs / 1e3,
        "cpu_s" -> execCtr.cpuNs / 1e9, "gc_s" -> execCtr.gcMs / 1e3,
        "shuffle_write_mb" -> execCtr.shuffleWrite / 1e6,
        "shuffle_read_mb" -> execCtr.shuffleRead / 1e6,
        "spill_mb" -> execCtr.spill / 1e6,
        "result_mb" -> execCtr.resultBytes / 1e6),
      "cached_mb" -> tracer.cachedBytes.get / 1e6,
      "spans" -> Main.spanJson(tracer)))
    spark.stop()
  }
}
