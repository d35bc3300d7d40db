package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The session every workload runs in: the posture `graft.Bench` uses
  * (AQE off, 8 shuffle partitions, Kryo, uncompressed shuffle), with
  * every scratch directory inside the run's work directory. */
object Posture {
  val ShufflePartitions = 8

  def describe(cores: Int): String =
    s"local[$cores],aqe=false,shuffle.partitions=$ShufflePartitions," +
      "serializer=kryo,shuffle.compress=false,broadcast.compress=false"

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.files.openCostInBytes", (256 * 1024).toString)
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.streaming.minBatchesToRetain", "1")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.shuffle.compress", "false")
      .config("spark.broadcast.compress", "false")
      .config("spark.locality.wait", "0")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Host readings: process CPU, GC and heap. */
object Host {
  private val Hz = 100.0 // Linux USER_HZ

  /** (user, system) CPU seconds of this process so far. */
  def cpu(): (Double, Double) = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      .split("\\) ").last.split(" ")
    (f(11).toDouble / Hz, f(12).toDouble / Hz)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap in use after full collections, in MiB. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes of the parquet part files directly under `dir`. */
  def parquetBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length()).sum

  /** Bytes of regular files under `dir`. */
  def bytesUnder(dir: String): Long =
    if (!Files.exists(Paths.get(dir))) 0L
    else {
      val w = Files.walk(Paths.get(dir))
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
}

/** What the traced run reads off one op's executed plan. */
final case class ScanInfo(objectsScanned: Long, objectsTotal: Long,
    bytesScanned: Long, rowsOut: Long, footerAgg: Boolean, readerAgg: Boolean)

/** One completed (or failed) op. `kind` is the op family the per-layer
  * metrics group by. `traced` is set when the op started while tracing
  * was on. */
final case class OpRecord(name: String, kind: String, startNs: Long,
    latencyS: Double, ok: Boolean, traced: Boolean,
    buildS: Double = 0, planS: Double = 0,
    group: String = "", buildGroup: String = "",
    scan: Option[ScanInfo] = None, resultRows: Long = 0, error: String = "")

/** Shared machinery of a run: the session, the op runner, the tracing
  * switch and the metric bookkeeping. */
final class Harness(val spark: SparkSession, val cores: Int, val workDir: String,
    val seed: Long, val seconds: Int, val trace: Boolean) {

  val tracer: Option[Tracer] = if (trace) Some(new Tracer) else None
  /** Attached for the whole run; it files events by job group, and only
    * traced ops bind their groups to spans. */
  val listener: Option[ExecListener] = tracer.map { t =>
    val l = new ExecListener(t)
    spark.sparkContext.addSparkListener(l)
    l
  }
  private val opIds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Whether ops starting now are traced; see [[Harness.window]]. */
  @volatile var tracing: Boolean = false
  private var tracedSince = 0L
  /** Seconds tracing has been on so far. */
  var tracedWallS = 0.0

  def setTracing(on: Boolean): Unit = synchronized {
    if (on != tracing) {
      if (on) tracedSince = System.nanoTime()
      else tracedWallS += (System.nanoTime() - tracedSince) / 1e9
      tracing = on
    }
  }

  /** Run one op: take `hold` (if any), call `build` (the query function,
    * which may run barrier jobs of its own), plan the result, collect it
    * and `check` the rows. The op's latency starts before `hold` is
    * taken, so time spent waiting for it counts. Failures are recorded,
    * never retried. */
  def runOp(name: String, kind: String, tableObjects: String => Long = _ => 0L,
      hold: Option[java.util.concurrent.locks.Lock] = None)(
      build: => DataFrame)(check: Array[Row] => Boolean): OpRecord = {
    val id = opIds.incrementAndGet()
    val traced = tracing
    val sc = spark.sparkContext
    val group = s"op-$id"
    val buildGroup = s"op-$id-build"
    val opSpan = tracer.map(_.nextId()).getOrElse(0L)
    val t0 = System.nanoTime()
    hold.foreach(_.lock())
    val tl = System.nanoTime()
    var tb = tl
    var tp = tl
    try {
      def stage[T](spanName: String, g: String)(body: => T): T =
        if (traced) {
          val t = tracer.get
          val sid = t.nextId()
          listener.foreach(_.bind(g, sid, id))
          t.span(spanName, opSpan, id, sid)(body)
        } else body
      sc.setJobGroup(buildGroup, name, interruptOnCancel = false)
      val df = stage("operators.build", buildGroup)(build)
      tb = System.nanoTime()
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val plan = stage("plans", group)(df.queryExecution.executedPlan)
      tp = System.nanoTime()
      val rows = stage("exec", group)(df.collect())
      val t1 = System.nanoTime()
      val ok = check(rows)
      tracer.filter(_ => traced).foreach(_.record(Span(opSpan, "op", t0, t1, 0L, id)))
      OpRecord(name, kind, t0, (t1 - t0) / 1e9, ok, traced,
        buildS = (tb - tl) / 1e9, planS = (tp - tb) / 1e9,
        group = group, buildGroup = buildGroup,
        scan = if (traced) Harness.scanInfo(plan, tableObjects) else None,
        resultRows = rows.length,
        error = if (ok) "" else "wrong result")
    } catch { case e: Throwable =>
      val t1 = System.nanoTime()
      System.err.println(s"[perfbench] op $name failed: ${Harness.rootMessage(e)}")
      OpRecord(name, kind, t0, (t1 - t0) / 1e9, ok = false, traced,
        group = group, buildGroup = buildGroup, error = Harness.rootMessage(e))
    } finally {
      sc.clearJobGroup()
      hold.foreach(_.unlock())
    }
  }

  /** Wait until the listener has seen every event of the jobs run so
    * far, then detach it. */
  def stopListening(): Unit = listener.foreach { l =>
    l.flush(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
  }

  /** Drive `next` in a closed loop for the measured window: `seconds`
    * long, extended (to at most four times that) until `enough` holds,
    * so the p90 rests on enough samples. A traced run
    * alternates untraced and traced quarters, so `trace.overhead` compares
    * ops of the same run. Returns the window's wall seconds. */
  def window(enough: () => Boolean)(next: () => Unit): Double = {
    val t0 = System.nanoTime()
    val base = seconds * 1000000000L
    val cap = 4 * base
    def phaseTraced(now: Long): Boolean =
      trace && ((now - t0) * 4 / base) % 2 == 1
    setTracing(phaseTraced(t0))
    var now = t0
    while (now - t0 < base || (!enough() && now - t0 < cap)) {
      setTracing(phaseTraced(now))
      next()
      now = System.nanoTime()
    }
    setTracing(false)
    (System.nanoTime() - t0) / 1e9
  }
}

object Harness {
  def rootMessage(t: Throwable): String = {
    var c = t
    while (c.getCause != null && c.getCause != c) c = c.getCause
    Option(c.getMessage).getOrElse(c.toString).linesIterator.toSeq.headOption
      .getOrElse(c.toString).take(200)
  }

  /** Objects and bytes the plan's graft-objects scans were planned over. */
  def scanInfo(plan: SparkPlan, tableObjects: String => Long): Option[ScanInfo] = {
    val scans = plan.collect { case b: BatchScanExec => b } ++
      plan.subqueriesAll.flatMap(_.collect { case b: BatchScanExec => b })
    val graft = scans.filter(_.table.name().startsWith("graft-objects:"))
    if (graft.isEmpty) None
    else {
      var objects = 0L
      var bytes = 0L
      graft.foreach(_.inputPartitions.foreach { p =>
        paths(p).foreach { f =>
          objects += 1
          bytes += new java.io.File(f).length()
        }
      })
      val total = graft.map(b => tableObjects(b.table.name().stripPrefix("graft-objects:"))).sum
      val rowsOut = graft.map(b => b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      val kinds = graft.map(_.scan.getClass.getSimpleName)
      Some(ScanInfo(objects, total, bytes, rowsOut,
        footerAgg = kinds.exists(_.contains("FooterAgg")),
        readerAgg = kinds.exists(_.contains("PartialAgg"))))
    }
  }

  /** Object files behind one planned partition, read off its fields so
    * the benchmark needs no access to the source's internals. */
  private def paths(p: org.apache.spark.sql.connector.read.InputPartition): Seq[String] =
    p match {
      case prod: Product =>
        prod.productIterator.toSeq.flatMap {
          case s: String => Seq(s)
          case ss: Seq[_] => ss.collect { case s: String => s }
          case _ => Nil
        }
      case _ => Nil
    }

  /** Count of `<name>.<seq>` objects in a table directory. */
  def objectCount(dir: String): Long = {
    val d = new java.io.File(dir)
    val name = d.getName
    Option(d.listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.matches(java.util.regex.Pattern.quote(name) + "\\.\\d+"))
      .toLong
  }
}
