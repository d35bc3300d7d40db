package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** Writes beside reads on one catalog table seeded from orders, with
  * three clients:
  *
  *  - a writer: a closed loop of appends of seeded slices, pausing
  *    `WriterPauseMs` after each op; every 16th op instead replaces
  *    objects: SQL `DELETE`, `UPDATE` and `MERGE` in turn, with
  *    `CALL compact_table` between each. After each commit it records
  *    the table version and the key set that version must hold (the
  *    ledger);
  *  - a reader (the timed client): point lookups, range scans and full
  *    reads, each `VERSION AS OF` a ledger version and checked against
  *    that version's row count and key checksum;
  *  - a consumer: drains a `changeFeed` stream over the table, pausing
  *    `DrainPauseMs` between drains; the gap between a commit returning
  *    and its rows reaching the consumer is the freshness.
  *
  * Commits that replace objects (DELETE, UPDATE, MERGE, compaction) run
  * exclusive of reads and drains. The store fails a snapshot read or a
  * change-feed batch with NoSuchFileException when such a commit archives
  * objects the read has already listed; appends run beside reads. A read
  * that waits for such a commit counts the wait in its latency. */
final class IngestMixed(h: Harness) extends Workload {
  import IngestMixed._

  private val spark = h.spark
  private val seedRows = 20000L
  private val slice = 500L
  val dataScale = s"seed_rows=$seedRows,slice=$slice"
  def notLoaded: Set[String] = Metrics.ScanLayers

  private var catalog = ""
  private var root = ""
  private def table = s"$catalog.main.orders_t"
  private def tableDir = s"$root/main/orders_t"
  private var bytesPerRow = 0.0

  /** version -> the table's sorted keys at that version. Bounded to the
    * latest versions. */
  @volatile private var ledger = TreeMap.empty[Int, Array[Long]]
  private val KeepVersions = 16

  private def version(): Int =
    spark.sql(s"CALL $catalog.system.table_version('main.orders_t')").head().getInt(0)

  private def record(keys: Array[Long]): Int = {
    val v = version()
    val next = ledger + (v -> keys)
    ledger = if (next.size > KeepVersions) next.drop(next.size - KeepVersions) else next
    v
  }

  def build(rep: Int): Unit = {
    if (root.nonEmpty) Workload.deleteTree(root)
    catalog = s"bench$rep"
    root = s"${h.workDir}/catalog-$rep"
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
    spark.sql(s"CREATE TABLE $table (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, " +
      "o_orderpriority STRING) USING `graft-objects`")
    spark.sql(s"INSERT INTO $table ${slices(1, seedRows + 1, salt = 0, parts = 4)}")
    // the same rows as parquet: the bytes-per-row yardstick of space_amp
    val pq = s"$root/fixture-orders"
    DataGen.orders(spark, seedRows, 4).write.parquet(pq)
    bytesPerRow = Host.parquetBytes(pq).toDouble / seedRows
    ledger = TreeMap.empty
    record((1L to seedRows).toArray)
  }

  /** `SELECT` of generated orders with keys in [from, until). */
  private def slices(from: Long, until: Long, salt: Int, parts: Int = 1): String =
    s"SELECT ${DataGen.ordersCols(salt).mkString(", ")} FROM range($from, $until, 1, $parts)"

  /** Range scans take the middle of the mix, so the median latency is
    * theirs rather than a point on the edge between two op kinds. */
  private val readMenu = IndexedSeq("point", "point", "range", "range", "range", "range",
    "full_latest", "full_old")

  private var checks = (0L, 0L)
  override def setupChecks: (Long, Long) = checks

  /** Three reads of each kind and one change-feed drain, checked like
    * the timed ones. */
  def warmup(): Unit = {
    val rng = new Rng(h.seed, "warmup")
    feed = spark.readStream.format("graft-objects")
      .option("changeFeed", "true").option("startingVersion", ledger.lastKey.toString)
      .load(tableDir)
    val ops = (1 to 3).flatMap(_ => readMenu.distinct.map(k => read(k, rng))) :+ drainOnce()
    checks = (ops.size.toLong, ops.count(!_.ok).toLong)
  }

  private var feed: DataFrame = _
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  /** Deliver every change committed so far to the consumer, noting when
    * each version arrived. */
  private def drainOnce(): OpRecord = {
    val t0 = System.nanoTime()
    val traced = h.tracing
    val ok = try shared {
      val q = feed.writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          val versions = df.groupBy("_version").count().collect()
          val now = System.nanoTime()
          versions.foreach(r => seen.putIfAbsent(r.getInt(0), now))
          ()
        }
        .option("checkpointLocation", s"$root/_feed_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.foreach(progress.add)
      true
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] change-feed drain failed: ${Harness.rootMessage(e)}")
      false
    }
    OpRecord("drain", "stream", t0, (System.nanoTime() - t0) / 1e9, ok, traced)
  }

  private def read(kind: String, rng: Rng): OpRecord = {
    val l = ledger
    val (v, keys) = if (kind == "full_old") rng.pick(l.toIndexedSeq) else l.last
    val maxKey = keys.last
    kind match {
      case "point" =>
        val k = if (rng.int(0, 4) == 0) rng.long(1, maxKey + 1) else keys(rng.int(0, keys.length))
        val present = java.util.Arrays.binarySearch(keys, k) >= 0
        h.runOp("point", "relational", objects, readHold)(spark.sql(
          s"SELECT o_orderkey, o_orderstatus FROM $table VERSION AS OF $v WHERE o_orderkey = $k")) {
          rows => rows.length == (if (present) 1 else 0) && rows.forall(_.getLong(0) == k)
        }
      case "range" =>
        val a = rng.long(1, maxKey)
        val b = a + 2000
        val (n, s) = countSum(keys, a, b)
        h.runOp("range", "relational", objects, readHold)(spark.sql(
          s"SELECT count(*), sum(o_orderkey) FROM $table VERSION AS OF $v " +
            s"WHERE o_orderkey BETWEEN $a AND $b")) { rows => matches(rows.head, n, s) }
      case _ =>
        val (n, s) = countSum(keys, Long.MinValue, Long.MaxValue)
        h.runOp(kind, "relational", objects, readHold)(spark.sql(
          s"SELECT count(*), sum(o_orderkey) FROM $table VERSION AS OF $v")) {
          rows => matches(rows.head, n, s)
        }
    }
  }

  /** Live objects of the table a (possibly versioned) scan read. */
  private def objects(path: String): Long = Harness.objectCount(path.takeWhile(_ != '@'))

  private def matches(r: org.apache.spark.sql.Row, n: Long, s: Long): Boolean =
    r.getLong(0) == n && (if (n == 0) r.isNullAt(1) else r.getLong(1) == s)

  /** A key among the last few appended slices. DELETE and UPDATE aim
    * there, so the objects they rewrite are of one size in every run. */
  private def recent(rng: Rng): Long = {
    val newest = ledger.last._2.last
    newest - 3 * slice + rng.long(0, slice)
  }

  /** The writer's next op, by position in the cadence. */
  private def write(i: Int, rng: Rng, nextKey: Long): (OpRecord, Long) = {
    val keys = ledger.last._2
    val kind = cadence(i)
    val (stmt, after, inserted) = kind match {
      case "append" =>
        val until = nextKey + slice
        (s"INSERT INTO $table ${slices(nextKey, until, salt = i)}",
          keys ++ (nextKey until until), slice)
      case "delete" =>
        val a = recent(rng)
        val b = a + 1000
        val r = rng.int(0, 3)
        (s"DELETE FROM $table WHERE o_orderkey BETWEEN $a AND $b AND pmod(o_orderkey, 3) = $r",
          keys.filterNot(k => k >= a && k <= b && Math.floorMod(k, 3L) == r), 0L)
      case "update" =>
        val a = recent(rng)
        (s"UPDATE $table SET o_totalprice = o_totalprice + 1, o_orderstatus = 'U' " +
          s"WHERE o_orderkey BETWEEN $a AND ${a + 500}", keys, 0L)
      case "merge" =>
        // half the source overlaps existing keys (updated), half is new
        val a = math.max(1L, nextKey - slice / 2)
        val until = nextKey + slice / 2
        val src = (a until until).toArray
        val fresh = src.filter(k => java.util.Arrays.binarySearch(keys, k) < 0)
        (s"""MERGE INTO $table t USING (${slices(a, until, salt = i)}) s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
          (keys ++ fresh).sorted, fresh.length.toLong)
      case _ =>
        (s"CALL $catalog.system.compact_table('main.orders_t', 4)", keys, 0L)
    }
    val before = objectSizes()
    val lock = if (kind == "append") rw.readLock() else rw.writeLock()
    val rec = h.runOp(kind, "write", hold = Some(lock))(spark.sql(stmt))(_ => true)
    if (rec.ok) {
      val v = record(after)
      if (kind != "compact") lastDataVersion = v
      commits.put(v, rec.startNs + (rec.latencyS * 1e9).toLong)
      val now = objectSizes()
      val added = now.keySet -- before.keySet
      writes.add(WriteStat(kind, rec.startNs, rec.latencyS, added.size,
        added.toSeq.map(now).sum, inserted))
    }
    val advance = if (kind == "append" || kind == "merge") slice / (if (kind == "merge") 2 else 1) else 0L
    (rec, advance)
  }

  private def objectSizes(): Map[String, Long] = {
    val d = new java.io.File(tableDir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("orders_t\\.\\d+"))
      .map(f => f.getName -> f.length()).toMap
  }

  private val rw = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
  private val readHold = Some(rw.readLock())
  private def shared[T](body: => T): T = {
    rw.readLock().lock()
    try body finally rw.readLock().unlock()
  }

  /** Stored bytes over the bytes the live rows take as parquet. */
  private def spaceAmp(): Double =
    Host.bytesUnder(tableDir).toDouble / (ledger.last._2.length * bytesPerRow)
  @volatile private var spaceAt: Option[Double] = None

  private val commits = new ConcurrentHashMap[Int, Long]()
  /** The newest commit that changed rows (compaction changes none). */
  @volatile private var lastDataVersion = 0
  private val seen = new ConcurrentHashMap[Int, Long]()
  private val writes = new ConcurrentLinkedQueue[WriteStat]()

  /** Seconds from each commit returning to the consumer seeing its rows,
    * over the commits seen so far. */
  private def freshness(): Seq[Double] = commits.asScala.toSeq.flatMap { case (v, at) =>
    Option(seen.get(v)).map(s => math.max(0L, s - at) / 1e9)
  }

  def run(): RunResult = {
    val stop = new AtomicBoolean(false)
    val writeOps = new ConcurrentLinkedQueue[OpRecord]()
    val drains = new ConcurrentLinkedQueue[OpRecord]()
    val stopConsumer = new CountDownLatch(1)
    val consumer = new Thread(() => {
      progress.clear()
      do drains.add(drainOnce())
      while (!stopConsumer.await(DrainPauseMs, TimeUnit.MILLISECONDS))
    }, "perfbench-consumer")
    consumer.setDaemon(true)
    consumer.start()

    val writer = new Thread(() => {
      val rng = new Rng(h.seed, "writer")
      var nextKey = ledger.last._2.last + 1
      var i = 0
      // past the window, the writer goes on until space_amp is read
      while (!stop.get || i < SpaceAfterWrites) {
        val (rec, advance) = write(i, rng, nextKey)
        writeOps.add(rec)
        nextKey += advance
        i += 1
        Thread.sleep(WriterPauseMs)
        if (i == SpaceAfterWrites) spaceAt = Some(spaceAmp())
      }
    }, "perfbench-writer")
    writer.setDaemon(true)
    writer.start()

    val reads = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
    val rng = new Rng(h.seed, "reader")
    val it = OpPlan.iterator(readMenu, h.seed)
    // reads interleave with commits, so their latencies swing with what
    // else runs; 200 of them settle the median and the tail. A traced run
    // also waits for enough commits and change-feed deliveries to report
    // their p90
    val windowStart = System.nanoTime()
    val windowS = h.window(() => reads.size >= 200 &&
        (!h.trace || (writes.size >= 100 && freshness().size >= 100))) {
      () => reads += read(it.next(), rng)
    }
    stop.set(true)
    writer.join()
    // a traced run lets the consumer catch up with the last commit
    val deadline = System.nanoTime() + 5000000000L
    while (h.trace && !seen.containsKey(lastDataVersion) && System.nanoTime() < deadline)
      Thread.sleep(50)
    stopConsumer.countDown()
    consumer.join()

    val windowEnd = windowStart + (windowS * 1e9).toLong
    RunResult(reads.toSeq, writeOps.asScala.toSeq, drains.asScala.toSeq, windowS, spaceAt.get,
      if (h.trace) writeLayers(writeOps.asScala.toSeq, windowS, windowEnd, progress.asScala.toSeq)
      else Map.empty)
  }

  private def writeLayers(ops: Seq[OpRecord], windowS: Double, windowEnd: Long,
      progress: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val ws = writes.asScala.toSeq
    val commitLat = ws.map(_.latencyS)
    val batches = progress.filter(_.numInputRows > 0)
    val appends = ws.filter(w => w.kind == "append" || w.kind == "merge")
    Map(
      "commit_p50_s" -> Metrics.p50("commit_p50_s", commitLat),
      "commit_p90_s" -> Metrics.p90("commit_p90_s", commitLat),
      "write_rows_s" -> ws.filter(_.startNs < windowEnd).map(_.rowsInserted).sum / windowS,
      "freshness_p90_s" -> Metrics.p90("freshness_p90_s", freshness()),
      "sources.write_ms_per_commit" ->
        Metrics.p50("sources.write_ms_per_commit", appends.map(_.latencyS * 1000)),
      "sources.objects_written_per_commit" -> Stats.mean(ws.map(_.objects.toDouble)),
      "sources.bytes_written_mb_per_commit" -> Stats.mean(ws.map(_.bytes / 1048576.0)),
      "sources.commit_conflicts" -> ops.count(o => !o.ok &&
        o.error.toLowerCase.matches(".*(conflict|concurrent).*")).toDouble,
      "sources.compact_ms" ->
        Metrics.p50("sources.compact_ms", ws.filter(_.kind == "compact").map(_.latencyS * 1000)),
      "sources.objects_live" -> objectSizes().size.toDouble,
      "sources.objects_total" -> objectSizes().size.toDouble,
      "streaming.batch_ms_p50" -> Metrics.p50("streaming.batch_ms_p50", batches.map(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))),
      "streaming.rows_per_batch" -> Stats.mean(batches.map(_.numInputRows.toDouble)),
      "streaming.batches" -> batches.size.toDouble)
  }
}

object IngestMixed {
  val DrainPauseMs = 3000L
  /** The writer's pause after each op: a loader that ships a slice about
    * twice a second rather than one that saturates the cores. */
  val WriterPauseMs = 200L
  /** space_amp is read after this many writer ops (a delete, a
    * compaction and an update among them), so it reflects a fixed amount
    * of write history, not the host's pace. */
  val SpaceAfterWrites = 48

  /** The object-replacing ops, one per [[Period]] writer ops, in turn.
    * Compaction every other time keeps the object count of the table
    * cycling within a few seconds, so reads see the same mix of table
    * shapes in every window. */
  val Replacing: IndexedSeq[String] =
    IndexedSeq("delete", "compact", "update", "compact", "merge", "compact")
  val Period = 16

  /** The kind of the writer's `i`-th op. Object-replacing commits hold
    * reads off, so they are rare enough that the read p90 stays a read's
    * own latency; their waits show further out in the tail. */
  def cadence(i: Int): String =
    if (i % Period == Period - 1) Replacing((i / Period) % Replacing.size) else "append"

  final case class WriteStat(kind: String, startNs: Long, latencyS: Double, objects: Int,
      bytes: Long, rowsInserted: Long)

  /** (count, sum) of the sorted `keys` within [a, b]. */
  def countSum(keys: Array[Long], a: Long, b: Long): (Long, Long) = {
    var n = 0L
    var s = 0L
    keys.foreach { k => if (k >= a && k <= b) { n += 1; s += k } }
    (n, s)
  }
}
