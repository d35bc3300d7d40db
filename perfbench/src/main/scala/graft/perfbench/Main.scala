package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Entry point of one benchmark run (normally started by `run.py`):
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work-dir <dir> [--out <artifact.json>]
  *      [--git-sha <sha>] [--source-digest <d>]
  * }}}
  *
  * Prints one JSON result line last on stdout. `--out` names the only
  * file the run writes outside its work directory: the stamped artifact
  * (metrics, spans of a traced run, the selectivity curve). */
object Main {

  /** Builds (data + ingest) per run; setup_s reports their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s: $what")
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = need("workload")
    require(Workload.Names.contains(workload),
      s"unknown workload '$workload' (known: ${Workload.Names.mkString(", ")})")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val workDir = need("work-dir")
    val cores = 4
    val out = opts.get("out").map(Paths.get(_))

    val stampOf = (scale: String) => Stamp(opts.getOrElse("git-sha", "unknown"),
      opts.getOrElse("source-digest", "unknown"), seed, workload, scale, cores,
      Posture.describe(cores), org.apache.spark.SPARK_VERSION, trace)

    Files.createDirectories(Paths.get(workDir))
    val spark = Posture.session(cores, workDir)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val h = new Harness(spark, cores, workDir, seed, seconds, trace)
    val w = Workload(workload, h)
    out.foreach(p => Provenance.checkWritable(p, stampOf(w.dataScale)))

    val builds = (1 to SetupReps).map { rep =>
      val t = System.nanoTime()
      w.build(rep)
      (System.nanoTime() - t) / 1e9
    }
    phase(s"built ${SetupReps}x")
    val tw = System.nanoTime()
    w.warmup()
    val setupS = sessionS + Stats.median(builds) + (System.nanoTime() - tw) / 1e9

    phase("warm")
    System.gc()
    val (u0, s0) = Host.cpu()
    val gc0 = Host.gcSeconds()
    val res = w.run()
    val (u1, s1) = Host.cpu()
    val gc1 = Host.gcSeconds()
    phase(f"window done (${res.windowS}%.1f s)")
    h.stopListening()
    val heapMb = Host.retainedHeapMb()

    val (setupAttempted, setupFailed) = w.setupChecks
    val all = res.queryOps ++ res.writeOps ++ res.otherOps
    val attempted = all.size + setupAttempted
    val failed = all.count(!_.ok) + setupFailed
    all.filterNot(_.ok).groupBy(o => (o.name, o.error)).foreach { case ((n, e), xs) =>
      System.err.println(s"[perfbench] FAILED ${xs.size}x $n: $e")
    }

    val values: Map[String, Double] =
      if (!trace)
        Metrics.endToEnd(res.queryOps, res.windowS, (u1 - u0) + (s1 - s0), setupS,
          res.spaceAmp, heapMb)
      else
        Metrics.layers(res.queryOps, res.writeOps, h.listener.get, cores, h.tracedWallS) ++
          res.layers ++ Map(
          "error_rate" -> failed.toDouble / math.max(attempted, 1),
          "jvm.gc_pause_s" -> (gc1 - gc0),
          "jvm.stime_ratio" -> (s1 - s0) / math.max(u1 - u0, 0.01))
    val names = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val line = Metrics.resultLine(failed == 0, attempted, failed, names, values,
      if (trace) w.notLoaded else Set.empty)

    out.foreach { p =>
      val spans = h.tracer.map(t => Trace.toJson(t.all)).getOrElse("[]")
      val selfByName = h.tracer.map(t => Trace.selfSecondsByName(t.all)).getOrElse(Map.empty)
      Provenance.write(p, stampOf(w.dataScale), Seq(
        "result" -> line,
        "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
          "builds_s" -> builds.map(Json.num).mkString("[", ",", "]"),
          "setup_s" -> Json.num(setupS))),
        "self_seconds_by_layer" -> Json.obj(selfByName.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }),
        "ops" -> Json.obj(all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
          n -> Json.obj(Seq("count" -> xs.size.toString, "failed" -> xs.count(!_.ok).toString,
            "latency_p50_s" -> Json.num(Stats.median(xs.map(_.latencyS)))))
        })) ++ res.artifact ++ Seq(
        "spans" -> spans))
    }
    spark.stop()
    phase("stopped")
    println(line)
    System.out.flush()
  }
}
