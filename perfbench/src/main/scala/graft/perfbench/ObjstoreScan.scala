package graft.perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** The paper's experiment: scans, filters and aggregates over lineitem
  * and orders stored as `graft-objects`, range-partitioned on their date
  * columns, issued by one closed-loop client.
  *
  * Every entry of the menu has three spellings: `sql` over the object
  * tables (what storage can evaluate is pushed), `twin` over the object
  * tables with every predicate in a form storage cannot accept (the
  * `--use-cls off` run), and the same query over the source parquet.
  * Warmup checks that the three agree; each timed op is checked against
  * the parquet answer. The Q6 shape runs in both forms in the timed mix,
  * at four selectivities, which gives the selectivity curve. A traced
  * run ends with the kernel phase ([[Kernels]]). */
final class ObjstoreScan(h: Harness) extends Workload {
  import ObjstoreScan._

  private val spark = h.spark
  private val orders = DataGenOrders
  private val lineObjects = 16
  private val orderObjects = 4
  val dataScale = s"orders=$orders,lineitem=${4 * orders},objects=$lineObjects+$orderObjects"
  def notLoaded: Set[String] = Metrics.WriteLayers

  private def dataDir(rep: Int) = s"${h.workDir}/scan-data-$rep"
  private var dir = ""
  private def liObj = s"$dir/obj/lineitem"
  private def ordObj = s"$dir/obj/orders"

  def build(rep: Int): Unit = {
    if (dir.nonEmpty) Workload.deleteTree(dir)
    dir = dataDir(rep)
    DataGen.lineitem(spark, orders, 8).write.parquet(s"$dir/pq/lineitem")
    DataGen.orders(spark, orders, 4).write.parquet(s"$dir/pq/orders")
    spark.read.parquet(s"$dir/pq/lineitem").repartitionByRange(lineObjects, col("l_shipdate"))
      .write.format("graft-objects").mode("overwrite").save(liObj)
    spark.read.parquet(s"$dir/pq/orders").repartitionByRange(orderObjects, col("o_orderdate"))
      .write.format("graft-objects").mode("overwrite").save(ordObj)
    spark.read.format("graft-objects").load(liObj).createOrReplaceTempView("li")
    spark.read.format("graft-objects").load(ordObj).createOrReplaceTempView("ord")
    spark.read.parquet(s"$dir/pq/lineitem").createOrReplaceTempView("li_pq")
    spark.read.parquet(s"$dir/pq/orders").createOrReplaceTempView("ord_pq")
  }

  private val menu: IndexedSeq[ScanOp] = ObjstoreScan.menu(new Rng(h.seed, "objstore_scan"))
  /** Timed ops: every entry, plus the twin of each Q6 entry. */
  private val timed: IndexedSeq[(ScanOp, Boolean)] =
    menu.map(_ -> true) ++ menu.filter(_.bucket.isDefined).map(_ -> false)
  private val expected = scala.collection.mutable.Map.empty[String, Seq[Row]]
  private var checks = (0L, 0L)

  private def objectsOf(path: String): Long = Harness.objectCount(path)

  def warmup(): Unit = {
    var failed = 0L
    menu.foreach { op =>
      val ref = spark.sql(op.sql.replace("{li}", "li_pq").replace("{ord}", "ord_pq"))
        .collect().toSeq
      expected(op.name) = ref
      val on = spark.sql(op.objSql).collect().toSeq
      val off = spark.sql(op.twinSql).collect().toSeq
      Seq("pushdown" -> on, "twin" -> off).foreach { case (form, rows) =>
        if (!Results.sameRows(rows, ref)) {
          failed += 1
          System.err.println(s"[perfbench] ${op.name}: $form differs from the parquet answer")
        }
      }
    }
    checks = (2L * menu.size, failed)
  }

  override def setupChecks: (Long, Long) = checks

  def run(): RunResult = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[(OpRecord, ScanOp, Boolean)]
    val it = OpPlan.iterator(timed, h.seed)
    val windowS = h.window(() => ops.size >= 150) { () =>
      val (op, pushdown) = it.next()
      val text = if (pushdown) op.objSql else op.twinSql
      val label = if (pushdown) op.name else s"${op.name}_off"
      val r = h.runOp(label, "relational", objectsOf)(spark.sql(text)) { rows =>
        Results.sameRows(rows.toSeq, expected(op.name))
      }
      ops += ((r, op, pushdown))
    }
    val live = spark.sql("SELECT count(*) FROM li").head().getLong(0) +
      spark.sql("SELECT count(*) FROM ord").head().getLong(0)
    val pqBytes = Host.bytesUnder(s"$dir/pq/lineitem") + Host.bytesUnder(s"$dir/pq/orders")
    val pqRows = 5 * orders
    val spaceAmp = (Host.bytesUnder(liObj) + Host.bytesUnder(ordObj)).toDouble /
      (live * (pqBytes.toDouble / pqRows))
    val (layers, curve) = if (h.trace) selectivityCurve(ops.toSeq) else (Map.empty[String, Double], "[]")
    val kernels = if (h.trace) Kernels.onGeneratedData(h) else KernelResult(Map.empty, Nil)
    RunResult(ops.map(_._1).toSeq, Nil, kernels.checks, windowS, spaceAmp,
      layers ++ kernels.layers +
        ("sources.objects_total" -> (objectsOf(liObj) + objectsOf(ordObj)).toDouble),
      Seq("selectivity_curve" -> curve))
  }

  /** Per selectivity bucket: on/off latency, objects and bytes scanned,
    * rows out — the `--use-cls` experiment measured on the object route. */
  private def selectivityCurve(ops: Seq[(OpRecord, ScanOp, Boolean)])
      : (Map[String, Double], String) = {
    val rows = Metrics.Buckets.map { b =>
      def side(pushdown: Boolean) = ops.collect {
        case (r, op, p) if op.bucket.contains(b) && p == pushdown && r.traced && r.ok => r
      }
      val on = side(true)
      val off = side(false)
      def med(rs: Seq[OpRecord], f: OpRecord => Double) =
        if (rs.isEmpty) 0.0 else Stats.median(rs.map(f))
      def scanMed(rs: Seq[OpRecord], f: ScanInfo => Long) =
        med(rs.filter(_.scan.isDefined), r => f(r.scan.get).toDouble)
      val onP50 = med(on, _.latencyS)
      val offP50 = med(off, _.latencyS)
      val speedup = if (onP50 > 0) offP50 / onP50 else 0.0
      val json = Json.obj(Seq("bucket" -> Json.str(b),
        "on_latency_p50_s" -> Json.num(onP50), "off_latency_p50_s" -> Json.num(offP50),
        "on_objects_scanned" -> Json.num(scanMed(on, _.objectsScanned)),
        "off_objects_scanned" -> Json.num(scanMed(off, _.objectsScanned)),
        "on_bytes_scanned" -> Json.num(scanMed(on, _.bytesScanned)),
        "off_bytes_scanned" -> Json.num(scanMed(off, _.bytesScanned)),
        "on_rows_out" -> Json.num(scanMed(on, _.rowsOut)),
        "off_rows_out" -> Json.num(scanMed(off, _.rowsOut)),
        "samples_on" -> on.size.toString, "samples_off" -> off.size.toString))
      (s"sources.pushdown_speedup.$b" -> speedup, json)
    }
    (rows.map(_._1).toMap, rows.map(_._2).mkString("[", ",", "]"))
  }
}

object ObjstoreScan {
  private val DataGenOrders = 50000L

  /** One menu entry. `sql` and `twin` use `{li}` / `{ord}` for the
    * tables; `bucket` names the Q6 selectivity bucket. */
  final case class ScanOp(name: String, sql: String, twin: String,
      bucket: Option[String] = None) {
    def objSql: String = sql.replace("{li}", "li").replace("{ord}", "ord")
    def twinSql: String = twin.replace("{li}", "li").replace("{ord}", "ord")
  }

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private def day(offset: Long): String =
    fmt.format(Instant.ofEpochSecond(DataGen.Epoch1995 + offset * 86400))
  private def ts(offset: Long): String = s"TIMESTAMP '${day(offset)} 00:00:00'"
  /** The same bound in a spelling storage cannot evaluate. */
  private def tsText(c: String): String = s"CAST($c AS STRING)"

  /** The menu, with constants drawn from `rng`. */
  def menu(rng: Rng): IndexedSeq[ScanOp] = {
    val q6 = Seq("sel1" -> 0.01, "sel10" -> 0.1, "sel50" -> 0.5, "sel100" -> 1.0).map {
      case (b, f) =>
        val days = math.round(f * DataGen.ShipDays)
        val lo = if (f >= 1.0) 0L else 1 + rng.long(0, DataGen.ShipDays - days)
        val hi = if (f >= 1.0) DataGen.ShipDays + 2L else lo + days
        val disc = rng.int(2, 9) // hundredths
        val band = s"BETWEEN 0.0${disc - 1} AND 0.0${disc + 1}"
        val qty = rng.int(20, 45)
        ScanOp(s"q6_$b",
          s"""SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n FROM {li}
             |WHERE l_shipdate >= ${ts(lo)} AND l_shipdate < ${ts(hi)}
             |AND l_discount $band AND l_quantity < $qty""".stripMargin,
          s"""SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n FROM {li}
             |WHERE ${tsText("l_shipdate")} >= '${day(lo)}' AND ${tsText("l_shipdate")} < '${day(hi)}'
             |AND l_discount + 0.0 $band
             |AND l_quantity + 0.0 < $qty""".stripMargin,
          Some(b))
    }
    val q1Hi = DataGen.ShipDays - rng.int(60, 120)
    val q1 = ScanOp("q1_groupby",
      s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         |sum(l_extendedprice) AS sum_base, sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
         |avg(l_discount) AS avg_disc, count(*) AS n FROM {li}
         |WHERE l_shipdate <= ${ts(q1Hi)} GROUP BY l_returnflag, l_linestatus""".stripMargin,
      s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         |sum(l_extendedprice) AS sum_base, sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
         |avg(l_discount) AS avg_disc, count(*) AS n FROM {li}
         |WHERE ${tsText("l_shipdate")} <= '${day(q1Hi)} 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    val pfLo = 1 + rng.long(0, DataGen.ShipDays - 3)
    val pfFlag = rng.pick(IndexedSeq("A", "N", "R"))
    val pf1 = ScanOp("scan_date_flag",
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM {li}
         |WHERE l_shipdate >= ${ts(pfLo)} AND l_shipdate < ${ts(pfLo + 3)}
         |AND l_returnflag = '$pfFlag'""".stripMargin,
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM {li}
         |WHERE ${tsText("l_shipdate")} >= '${day(pfLo)}' AND ${tsText("l_shipdate")} < '${day(pfLo + 3)}'
         |AND concat(l_returnflag, '') = '$pfFlag'""".stripMargin)
    val key = rng.long(1, DataGenOrders - 200)
    val pf2 = ScanOp("scan_key_range",
      s"""SELECT l_orderkey, l_partkey, l_quantity FROM {li}
         |WHERE l_orderkey BETWEEN $key AND ${key + 150}""".stripMargin,
      s"""SELECT l_orderkey, l_partkey, l_quantity FROM {li}
         |WHERE l_orderkey + 0 BETWEEN $key AND ${key + 150}""".stripMargin)
    val footer = ScanOp("footer_minmax",
      "SELECT min(l_shipdate) AS lo, max(l_shipdate) AS hi, min(l_extendedprice) AS pmin, " +
        "max(l_extendedprice) AS pmax, count(*) AS n FROM {li}",
      "SELECT min(l_shipdate) AS lo, max(l_shipdate) AS hi, min(l_extendedprice) AS pmin, " +
        "max(l_extendedprice) AS pmax, count(*) AS n FROM {li} WHERE l_quantity + 0.0 > 0")
    val tLo = 1 + rng.long(0, DataGen.ShipDays - 250)
    val topN = ScanOp("top_n",
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM {li}
         |WHERE l_shipdate >= ${ts(tLo)} AND l_shipdate < ${ts(tLo + 250)}
         |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM {li}
         |WHERE ${tsText("l_shipdate")} >= '${day(tLo)}' AND ${tsText("l_shipdate")} < '${day(tLo + 250)}'
         |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin)
    val oLo = rng.long(0, DataGen.OrderDays - 30)
    val jLo = 1 + rng.long(0, DataGen.ShipDays - 250)
    val join = ScanOp("join_orders_lineitem",
      s"""SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS rev
         |FROM {ord} JOIN {li} ON o_orderkey = l_orderkey
         |WHERE o_orderdate >= ${ts(oLo)} AND o_orderdate < ${ts(oLo + 30)}
         |AND l_shipdate >= ${ts(jLo)} AND l_shipdate < ${ts(jLo + 250)}
         |GROUP BY o_orderpriority""".stripMargin,
      s"""SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS rev
         |FROM {ord} JOIN {li} ON o_orderkey = l_orderkey
         |WHERE ${tsText("o_orderdate")} >= '${day(oLo)}' AND ${tsText("o_orderdate")} < '${day(oLo + 30)}'
         |AND ${tsText("l_shipdate")} >= '${day(jLo)}' AND ${tsText("l_shipdate")} < '${day(jLo + 250)}'
         |GROUP BY o_orderpriority""".stripMargin)
    (q6 ++ Seq(q1, pf1, pf2, footer, topN, join)).toIndexedSeq
  }
}
