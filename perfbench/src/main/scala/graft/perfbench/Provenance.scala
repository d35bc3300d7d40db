package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** What a measurement was taken on. Every artifact carries one. */
final case class Stamp(gitSha: String, sourceDigest: String, seed: Long,
    workload: String, dataScale: String, cores: Int, posture: String,
    sparkVersion: String, traced: Boolean) {

  def fields: Seq[(String, String)] = Seq(
    "git_sha" -> gitSha, "source_digest" -> sourceDigest,
    "seed" -> seed.toString, "workload" -> workload,
    "data_scale" -> dataScale, "cores" -> cores.toString,
    "posture" -> posture, "spark_version" -> sparkVersion,
    "traced" -> traced.toString)

  def toJson: String = Json.obj(fields.map { case (k, v) => k -> Json.str(v) })
}

/** Artifacts are written only to a path the caller names, and never
  * over an artifact of a different kind of run: a capture taken at
  * another data scale, core count or session posture is not comparable,
  * so replacing it would silently change the record. */
object Provenance {

  /** The stamp keys that must match for one artifact to replace another. */
  val Comparable: Seq[String] = Seq("workload", "data_scale", "cores", "posture")

  /** Why `next` may not replace the artifact whose text is `existing`,
    * or None when it may. */
  def refusal(existing: String, next: Stamp): Option[String] = {
    val at = existing.indexOf("\"stamp\":{")
    if (at < 0) return Some("the existing file carries no stamp")
    val end = existing.indexOf('}', at)
    val old = Json.parseFlatStrings(existing.substring(at, end + 1))
    val now = next.fields.toMap
    val diff = Comparable.filter(k => !old.get(k).contains(now(k)))
    if (diff.isEmpty) None
    else Some(diff.map(k => s"$k ${old.getOrElse(k, "?")} -> ${now(k)}").mkString(", "))
  }

  /** Write `{"stamp":…, <body fields>}` to `path`, refusing to replace an
    * artifact taken under a different stamp. */
  def write(path: Path, stamp: Stamp, body: Seq[(String, String)]): Unit = {
    checkWritable(path, stamp)
    Option(path.toAbsolutePath.getParent).foreach(Files.createDirectories(_))
    val text = Json.obj(("stamp" -> stamp.toJson) +: body) + "\n"
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }

  /** Fail early, before any work, when `path` could not be written at
    * the end of the run. */
  def checkWritable(path: Path, stamp: Stamp): Unit =
    if (Files.exists(path)) {
      val old = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
      refusal(old, stamp).foreach { why =>
        throw new IllegalStateException(
          s"refusing to replace $path: it was taken under a different run ($why)")
      }
    }
}
