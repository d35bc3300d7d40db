package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

/** Per-op execution counters, gathered from Spark's listener bus.
  *
  * Each op runs its jobs under a job group of its own (see
  * [[Harness.runOp]]); the listener files every job, stage and task under
  * that group. For the groups of traced ops (bound with [[bind]]) it
  * also records a span per job (parent: the span the group was bound to)
  * and per stage (parent: its job). */
final class ExecListener(tracer: Tracer) extends SparkListener {

  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var schedMs = 0L
  }

  private case class Binding(parentSpan: Long, op: Long)
  private case class JobInfo(group: String, span: Long, startNs: Long)

  private val bindings = new ConcurrentHashMap[String, Binding]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  // listener times are epoch millis; spans use nanoTime
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNanos(ms: Long): Long = ms * 1000000L + nanoOffset

  /** Attach the job group `group` to span `parentSpan` of op `op`. */
  def bind(group: String, parentSpan: Long, op: Long): Unit =
    bindings.put(group, Binding(parentSpan, op)): Unit

  def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  private val flushed = ConcurrentHashMap.newKeySet[String]()
  private val flushes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Return once every event posted before this call has reached the
    * listener: run a marker job and wait for its end, which the bus
    * delivers after everything queued before it. */
  def flush(sc: org.apache.spark.SparkContext): Unit = {
    val marker = s"perfbench-flush-${flushes.incrementAndGet()}"
    sc.setJobGroup(marker, "flush", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!flushed.contains(marker)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("the listener bus did not deliver the marker job in 30 s")
      Thread.sleep(10)
    }
  }

  private def groupOfStage(stageId: Int): Option[String] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j))).map(_.group)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val span = tracer.nextId()
    jobs.put(e.jobId, JobInfo(group, span, toNanos(e.time)))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    val c = counters(group)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      Option(bindings.get(j.group)).foreach { b =>
        tracer.record(Span(j.span, "job", j.startNs, toNanos(e.time), b.parentSpan, b.op))
      }
      if (j.group.startsWith("perfbench-flush-")) flushed.add(j.group)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val jobId = Option(stageJob.get(info.stageId))
    val job = jobId.flatMap(j => Option(jobs.get(j)))
    job.foreach { j =>
      val c = counters(j.group)
      c.synchronized { c.stages += 1 }
    }
    for (j <- job; b <- Option(bindings.get(j.group)); s <- info.submissionTime;
         f <- info.completionTime)
      tracer.record(Span(tracer.nextId(), "stage", toNanos(s), toNanos(f), j.span, b.op))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = counters(groupOfStage(e.stageId).getOrElse(""))
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val ti = e.taskInfo
        val overhead = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + ti.gettingResultTime
        c.schedMs += math.max(0L, ti.duration - overhead)
      }
    }
  }
}
