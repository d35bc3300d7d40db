package graft.perfbench

/** What a workload's measured window produced. `queryOps` feed the
  * latency metrics; `queryOps` and `writeOps` feed the per-op layer
  * metrics; `otherOps` (change-feed drains, kernel checks) count toward
  * `attempted`/`failed` only. `layers` adds workload-specific per-layer
  * metrics and `artifact` adds fields to the traced artifact. */
final case class RunResult(queryOps: Seq[OpRecord], writeOps: Seq[OpRecord],
    otherOps: Seq[OpRecord], windowS: Double, spaceAmp: Double,
    layers: Map[String, Double] = Map.empty, artifact: Seq[(String, String)] = Nil)

/** A named, seeded load on the engine.
  *
  *  - `build` makes the inputs and loads them; the run calls it several
  *    times (each into a fresh directory) and times the median;
  *  - `warmup` runs every op once and computes the expected results;
  *  - `run` drives the closed-loop clients through the measured window. */
trait Workload {
  /** Data size, for the stamp. */
  def dataScale: String
  def build(rep: Int): Unit
  def warmup(): Unit
  /** Setup checks (expected vs twin results): (attempted, failed). */
  def setupChecks: (Long, Long) = (0L, 0L)
  /** Per-layer metrics this workload does not load; a traced run
    * reports them as 0. Every other per-layer metric must be measured. */
  def notLoaded: Set[String]
  def run(): RunResult
}

object Workload {
  val Names: Seq[String] = Seq("objstore_scan", "ingest_mixed")

  def apply(name: String, h: Harness): Workload = name match {
    case "objstore_scan" => new ObjstoreScan(h)
    case "ingest_mixed" => new IngestMixed(h)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  /** Delete a directory tree; missing is fine. */
  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val w = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists)
      } finally w.close()
    }
  }
}
