package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own rules: percentiles, span self time, seeded op
  * order, result comparison, metric reporting, the writer's cadence and
  * artifact provenance. No Spark session. */
class PerfbenchSpec extends AnyFunSuite {

  test("a percentile is reported only with at least 10 samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(hundred, 0.9).contains(90.0))
    assert(Stats.percentile(hundred.take(99), 0.9).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 0.5).contains(10.0))
    assert(Stats.percentile((1 to 19).map(_.toDouble), 0.5).isEmpty)
    assert(Stats.percentile(Nil, 0.5).isEmpty)
    // order of the input does not matter
    assert(Stats.percentile(hundred.reverse, 0.9).contains(90.0))
    intercept[IllegalStateException](Metrics.p90("latency_p90_s", hundred.take(50)))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.median(Nil).isNaN)
  }

  test("span self time subtracts the union of children clipped to the parent") {
    val spans = Seq(
      Span(1, "op", 0, 100, 0, 1),
      Span(2, "exec", 10, 30, 1, 1),
      Span(3, "exec", 20, 50, 1, 1),  // overlaps span 2
      Span(4, "job", 90, 120, 1, 1),  // ends after its parent
      Span(5, "stage", 25, 28, 3, 1))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - (40 + 10))
    assert(self(2) == 20)
    assert(self(3) == 30 - 3)
    assert(self(4) == 30)
    assert(self(5) == 3)
    val byName = Trace.selfSecondsByName(spans)
    assert(byName("exec") == (20 + 27) / 1e9)
  }

  test("a child that covers its parent leaves no self time") {
    val self = Trace.selfTimes(Seq(Span(1, "op", 10, 20, 0, 1), Span(2, "exec", 0, 30, 1, 1)))
    assert(self(1) == 0)
  }

  test("the tracer records a span around a body and returns its value") {
    val t = new Tracer
    assert(t.span("plans", parent = 7, op = 3)(42) == 42)
    val Seq(s) = t.all
    assert(s.name == "plans" && s.parent == 7 && s.op == 3 && s.endNs >= s.startNs)
  }

  test("the same seed gives the same op sequence, another seed another") {
    val menu = IndexedSeq("a", "b", "c", "d", "e", "f", "g", "h")
    def ops(seed: Long) = OpPlan.iterator(menu, seed).take(5 * menu.size).toSeq
    val one = ops(1)
    assert(one == ops(1))
    assert(one != ops(2))
    // every cycle issues the whole menu once: the mix does not depend on the seed
    one.grouped(menu.size).foreach(c => assert(c.sorted == menu))
  }

  test("the same seed gives the same constants") {
    val a = ObjstoreScan.menu(new Rng(5, "objstore_scan")).map(_.sql)
    assert(a == ObjstoreScan.menu(new Rng(5, "objstore_scan")).map(_.sql))
    assert(a != ObjstoreScan.menu(new Rng(6, "objstore_scan")).map(_.sql))
  }

  test("a result comparison does not depend on row order") {
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, "b", null), Row(3L, "c", Seq(1.0f, 2.0f)))
    assert(Results.sameRows(rows, rows.reverse))
    assert(Results.sameRows(rows, Seq(rows(1), rows(2), rows(0))))
    // summation-order noise is not a difference
    assert(Results.sameRows(Seq(Row(1L, 0.3)), Seq(Row(1L, 0.1 + 0.2))))
    assert(!Results.sameRows(rows, rows.updated(0, Row(1L, "a", 0.4))))
    assert(!Results.sameRows(rows :+ rows.head, rows :+ rows(1))) // multiset, not set
    assert(!Results.sameRows(rows, rows.tail))
  }

  test("a metric that is not measured fails the result line") {
    val names = Seq("a" -> "s", "b" -> "s")
    intercept[IllegalStateException](Metrics.resultLine(true, 1, 0, names, Map("a" -> 1.0)))
    intercept[IllegalStateException](
      Metrics.resultLine(true, 1, 0, names, Map("a" -> 1.0, "b" -> Double.NaN)))
    val line = Metrics.resultLine(true, 1, 0, names, Map("a" -> 1.5), notLoaded = Set("b"))
    assert(line.contains("\"a\":{\"value\":1.5") && line.contains("\"b\":{\"value\":0"))
  }

  test("the writer replaces objects once per period, each kind in turn") {
    val kinds = (0 until 6 * IngestMixed.Period).map(IngestMixed.cadence)
    assert(kinds.filter(_ != "append") == IngestMixed.Replacing)
    assert(kinds.take(IngestMixed.SpaceAfterWrites).toSet == Set("append", "delete", "compact",
      "update"))
  }

  private def stamp(scale: String = "s1", cores: Int = 4, posture: String = "p",
      seed: Long = 1, workload: String = "objstore_scan") =
    Stamp("sha", "src", seed, workload, scale, cores, posture, "4.1.2", traced = false)

  test("an artifact is replaced only by a run of the same scale, cores and posture") {
    val dir = Files.createTempDirectory("perfbench-spec")
    val path = dir.resolve("a.json")
    Provenance.write(path, stamp(), Seq("x" -> "1"))
    val text = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
    assert(text.startsWith("{\"stamp\":{"))
    assert(Provenance.refusal(text, stamp(seed = 9)).isEmpty)
    Provenance.write(path, stamp(seed = 9), Seq("x" -> "2")) // same kind of run: allowed
    for (other <- Seq(stamp(scale = "s2"), stamp(cores = 8), stamp(posture = "q"),
        stamp(workload = "ingest_mixed"))) {
      val e = intercept[IllegalStateException](Provenance.write(path, other, Seq("x" -> "3")))
      assert(e.getMessage.contains("refusing"))
    }
    assert(new String(Files.readAllBytes(path), StandardCharsets.UTF_8).contains("\"x\":2"))
    // a file without a stamp is never replaced
    val bare = dir.resolve("b.json")
    Files.write(bare, "{\"metric\":\"total\"}".getBytes(StandardCharsets.UTF_8))
    intercept[IllegalStateException](Provenance.write(bare, stamp(), Nil))
  }
}
