package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.ListenerBus
import org.apache.spark.sql.SparkSession

/** One traced interval. Times are epoch microseconds. `trace` is shared
  * by every span of one query execution (or one micro-batch). */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      kind: String, start: Long, end: Long)

/** Counters summed over the Spark tasks of one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, cpuNs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
  var resultBytes = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes; inputRows += o.inputRows
    resultBytes += o.resultBytes
  }
}

/** In-memory tracer. The benchmark opens a span around each call into a
  * layer; a SparkListener (Spark's public listener API) attaches every
  * job and stage to the span that was open on the driver thread when it
  * was submitted, through the `perfbench.span` job property, and sums
  * task metrics per span. Nothing is written until the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, String)]()
  private val stageSpan = new ConcurrentHashMap[Int, (Long, Long, String)]()
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  @volatile var enabled = false

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  private def ctr(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  /** Runs `body` inside a span; Spark jobs it submits become children. */
  def span[T](name: String, kind: String, parent: Long, trace: String)
             (body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = nextId.getAndIncrement()
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", s"$id|$trace")
    val t0 = nowUs
    try body(id)
    finally {
      val t1 = nowUs
      sc.setLocalProperty("perfbench.span", prev)
      synchronized { spans += Span(id, parent, trace, name, kind, t0, t1) }
    }
  }

  /** Waits until the listener has seen every event posted so far; called
    * before tracing is switched on or off so no event is misattributed. */
  def drain(): Unit = ListenerBus.drain(sc)

  /** Counters of the given spans, after the listener bus has drained. */
  def countersOf(ids: Iterable[Long]): Counters = {
    drain()
    val c = new Counters
    ids.foreach(i => Option(counters.get(i)).foreach(c += _))
    c
  }

  /** Sum of the wall time in [from, to] covered by at least one job. */
  def jobCoveredMs(fromUs: Long, toUs: Long): Double = {
    drain()
    val iv = synchronized(jobIntervals.toList)
      .map { case (a, b) => (math.max(a, fromUs), math.min(b, toUs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered, curS, curE = 0L
    var open = false
    iv.foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) covered += curE - curS
        curS = a; curE = b; open = true
      } else curE = math.max(curE, b)
    }
    if (open) covered += curE - curS
    covered / 1000.0
  }

  /** Streaming queries submit jobs from their own threads, so their jobs
    * are matched by the query id and batch id Spark puts on each job:
    * every (query, batch) gets a `micro_batch` span under the feed span
    * open on the driver at that moment. */
  @volatile var streamParent: (Long, String) = (0L, "")
  val streamNames = new ConcurrentHashMap[String, String]()
  private val streamBatch = new ConcurrentHashMap[String, Long]()

  private def parse(p: java.util.Properties, time: Long)
    : Option[(Long, String)] = Option(p).flatMap { x =>
    Option(x.getProperty("perfbench.span"))
      .map { s => val i = s.indexOf('|'); (s.take(i).toLong, s.drop(i + 1)) }
      .orElse(for {
        q <- Option(x.getProperty("sql.streaming.queryId"))
        b <- Option(x.getProperty("streaming.sql.batchId"))
      } yield {
        val (parent, tr) = streamParent
        val id = streamBatch.computeIfAbsent(s"$q#$b", _ => {
          val id = nextId.getAndIncrement()
          synchronized { spans += Span(id, parent, tr,
            s"${streamNames.getOrDefault(q, q)} micro-batch $b",
            "micro_batch", time * 1000, time * 1000) }
          id
        })
        (id, tr)
      })
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) parse(e.properties, e.time).foreach { case (sp, tr) =>
      val jobId = nextId.getAndIncrement()
      jobSpan.put(e.jobId, (sp, jobId, tr))
      ctr(sp).synchronized { ctr(sp).jobs += 1 }
      e.stageInfos.foreach(s =>
        stageSpan.putIfAbsent(s.stageId, (sp, jobId, tr)))
      synchronized { spans += Span(jobId, sp, tr, s"job ${e.jobId}", "job",
        e.time * 1000, -1) }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (sp, id, _) =>
      val end = e.time * 1000
      synchronized {
        val i = spans.lastIndexWhere(_.id == id)
        spans(i) = spans(i).copy(end = end)
        jobIntervals += ((spans(i).start, end))
        // a micro-batch span ends with its last job
        val j = spans.lastIndexWhere(_.id == sp)
        if (j >= 0 && spans(j).kind == "micro_batch" && spans(j).end < end)
          spans(j) = spans(j).copy(end = end)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageSpan.get(info.stageId)).foreach { case (sp, job, tr) =>
      ctr(sp).synchronized { ctr(sp).stages += 1 }
      for (a <- info.submissionTime; b <- info.completionTime)
        synchronized { spans += Span(nextId.getAndIncrement(), job, tr,
          s"stage ${info.stageId}", "stage", a * 1000, b * 1000) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { case (sp, _, _) =>
      val m = e.taskMetrics
      if (m != null) {
        val c = ctr(sp)
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.resultBytes += m.resultSize
        }
      }
    }

  /** Bytes of persisted RDD blocks stored while tracing is on. */
  val cachedBytes = new java.util.concurrent.atomic.AtomicLong()
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (enabled && b.blockId.isRDD && b.storageLevel.isValid)
      cachedBytes.addAndGet(b.memSize + b.diskSize)
  }
}
