package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side; run.py starts one process per run and
  * timestamps the `@@ <mark>` lines it prints.
  *
  *  - `batch dir=<data> sf=<sf> seed=<n> queries=<q,...> out=<json>
  *    results=<dir> seconds=<n> trace=<0|1> workload=<name> warm=<n>
  *    min=<n>`:
  *    generate the tables the queries read, read them, run one untimed
  *    cold pass that writes each query's result for the oracle check,
  *    then passes for `seconds`: the first half (at least `warm` passes)
  *    warms up, the second half (at least `min`) is reported.
  *  - `stream ...`: see [[StreamRun]].
  *  - `setup`: start a session, print `@@ session` and exit; run.py
  *    times further session start-ups with it.
  *  - `selfcheck ...`: see [[SelfCheck]].
  *
  * Each query is called through `graft.SparkEntry.queries`. A pass times,
  * per query, the builder call (`build`) and the noop-sink execution of
  * the DataFrame it returns (`exec`), and clears the session cache after
  * each query so every pass recomputes from parquet.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.drop(1).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    args(0) match {
      case "batch" => batch(opt)
      case "stream" => StreamRun(opt)
      case "setup" => setup()
      case "selfcheck" => SelfCheck(opt)
    }
  }

  /** A further sample of session start-up: launch to a ready session. */
  private def setup(): Unit = {
    Session.create()
    mark("session")
    Runtime.getRuntime.halt(0)
  }

  /** Prints a progress marker run.py timestamps on arrival. */
  def mark(name: String): Unit = { println(s"@@ $name"); Console.flush() }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Writes the result file run.py reads. */
  def writeJson(path: String, v: Any): Unit =
    mapper.writeValue(new java.io.File(path), v)

  def spanJson(tracer: Tracer): List[Map[String, Any]] =
    tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "trace" -> s.trace, "name" -> s.name, "kind" -> s.kind,
      "start_us" -> s.start, "end_us" -> s.end)).toList

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Peak heap use since the last call, in MB. */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val mb = pools.map(_.getPeakUsage.getUsed).sum / 1e6
    pools.foreach(_.resetPeakUsage())
    mb
  }

  /** Input tables a query reads: those its DuckDB oracle names. */
  def tablesOf(queries: Seq[String]): Seq[String] = {
    val sql = queries.map(graft.SparkEntry.oracleSql).mkString("\n")
    Gen.All.filter(t => s"(?i)\\b$t\\b".r.findFirstIn(sql).isDefined)
  }

  private def batch(opt: Map[String, String]): Unit = {
    val dir = opt("dir")
    val names = opt("queries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val spark = Session.create()
    mark("session")
    val tables = tablesOf(names)
    Gen.generate(spark, dir, opt("sf").toDouble, opt("seed").toLong,
      tables.toSet)
    mark("generated")
    val inputRows = Session.readInputs(spark, dir, tables)
    mark("ready")

    val failures = ArrayBuffer.empty[String]
    def clear(): Unit = spark.sharedState.cacheManager.clearCache()

    // cold pass: compiles every query's code and writes its result for
    // the DuckDB oracle check
    val t0 = System.nanoTime()
    names.foreach { q =>
      try graft.SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"${opt("results")}/$q")
      catch { case e: Throwable =>
        failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(300)
      }
      clear()
    }
    val coldS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark)
    spark.sparkContext.addSparkListener(tracer)
    var attempted = names.size
    val passes = ArrayBuffer.empty[Map[String, Any]]

    /** One timed pass: build + exec of each query. */
    def pass(n: Int, parent: Long, warm: Boolean): Unit = {
      val w0 = System.nanoTime(); val c0 = cpuS
      val start = tracer.nowUs
      tracer.cachedBytes.set(0)
      heapPeakMb()
      val trace = s"p$n"
      val perQuery = ArrayBuffer.empty[Map[String, Any]]
      tracer.span(s"pass $n", "pass", parent, trace) { ps =>
        names.foreach { q =>
          val tr = s"p$n/$q"
          tracer.span(q, "query", ps, tr) { qs =>
            val b0 = System.nanoTime()
            val ids = ArrayBuffer(qs)
            try {
              val df = tracer.span("build", "build", qs, tr) { id =>
                ids += id; graft.SparkEntry.queries(q)(spark, dir)
              }
              val b1 = System.nanoTime()
              tracer.span("exec", "exec", qs, tr) { id =>
                ids += id
                df.write.format("noop").mode("overwrite").save()
              }
              val b2 = System.nanoTime()
              perQuery += Map("query" -> q, "build_s" -> (b1 - b0) / 1e9,
                "exec_s" -> (b2 - b1) / 1e9,
                "build_span" -> ids.lift(1).getOrElse(0L),
                "exec_span" -> ids.lift(2).getOrElse(0L))
            } catch { case e: Throwable =>
              failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
                .take(300)
            }
            attempted += 1
            clear()
          }
        }
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = cpuS - c0
      var rec = Map[String, Any]("wall_s" -> wall, "cpu_s" -> cpu,
        "traced" -> tracer.enabled, "warm" -> warm,
        "queries" -> perQuery.toList)
      if (tracer.enabled) {
        def ctr(key: String) = {
          val c = tracer.countersOf(perQuery.map(_(key).asInstanceOf[Long]))
          Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
            "task_s" -> c.taskMs / 1e3, "cpu_s" -> c.cpuNs / 1e9,
            "gc_s" -> c.gcMs / 1e3, "shuffle_write_mb" -> c.shuffleWrite / 1e6,
            "shuffle_read_mb" -> c.shuffleRead / 1e6, "spill_mb" -> c.spill / 1e6,
            "input_mb" -> c.inputBytes / 1e6, "input_rows" -> c.inputRows,
            "result_mb" -> c.resultBytes / 1e6)
        }
        val perQ = perQuery.map { m =>
          val c = tracer.countersOf(Seq(m("build_span").asInstanceOf[Long],
            m("exec_span").asInstanceOf[Long]))
          m ++ Map("jobs" -> c.jobs, "result_mb" -> c.resultBytes / 1e6,
            "shuffle_mb" -> (c.shuffleWrite + c.shuffleRead) / 1e6)
        }
        rec ++= Map("build" -> ctr("build_span"), "exec" -> ctr("exec_span"),
          "queries" -> perQ.toList,
          "job_covered_s" -> tracer.jobCoveredMs(start, tracer.nowUs) / 1e3,
          "cached_mb" -> tracer.cachedBytes.get / 1e6,
          "heap_peak_mb" -> heapPeakMb())
      }
      passes += rec
    }

    // The JIT keeps compiling for several passes after the cold one
    // (measured: pass CPU falls from ~14 s to ~5-6 s over the first
    // eight), so the first half of `seconds`, and at least `warm` passes,
    // only warm up; the second half (at least `min` passes) is reported.
    // A traced run alternates untraced and traced passes there, so the
    // tracing overhead compares passes that are equally warm.
    val warmPasses = opt("warm").toInt
    val minPasses = opt("min").toInt
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val t1 = System.nanoTime()
    var n = 0
    while (n < warmPasses || since(t1) < seconds / 2) {
      pass(n, 0L, warm = true); n += 1
    }
    val t2 = System.nanoTime()
    tracer.enabled = traced
    tracer.span(opt("workload"), "workload", 0L, "run") { ws =>
      var k = 0
      while (k < minPasses || since(t2) < seconds / 2) {
        tracer.drain()
        tracer.enabled = traced && k % 2 == 1
        pass(n, ws, warm = false); n += 1; k += 1
      }
    }

    writeJson(opt("out"), Map(
      "cold_pass_s" -> coldS, "passes" -> passes.toList,
      "tables" -> tables, "input_rows" -> inputRows,
      "oracles" -> names.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap,
      "attempted" -> attempted, "failures" -> failures.toList,
      "spans" -> spanJson(tracer)))
    spark.stop()
  }
}
