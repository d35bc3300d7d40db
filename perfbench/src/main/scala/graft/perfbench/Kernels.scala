package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

final case class KernelResult(layers: Map[String, Double], checks: Seq[OpRecord])

object Kernels {
  val Docs = 1000L
  val Vecs = 1000L

  /** The kernel phase over freshly generated documents and embeddings,
    * each laid out as 8 part files. */
  def onGeneratedData(h: Harness): KernelResult = {
    val dir = s"${h.workDir}/kernel-data"
    DataGen.documents(h.spark, Docs, 8).write.parquet(s"$dir/documents.parquet")
    DataGen.embeddings(h.spark, Vecs, 8).write.parquet(s"$dir/embeddings.parquet")
    new Kernels(h, dir).run()
  }
}

/** The kernel phase of the traced `objstore_scan` run: each native
  * function against its declarative spelling, on generated embeddings
  * and documents. The kernels are registered with
  * `GraftFunctions.register`, the way the operators register them (a
  * session built only through `GraftExtensions` cannot resolve
  * `pq_encode_codes`, `pq_adc_distance`, `cosine_argmax_cell`,
  * `trigram_profile_hits`, `trigram_counts` or `int_l2_sq`). Both forms
  * must give identical results; a mismatch is a failed op. */
final class Kernels(h: Harness, dataDir: String) {
  private val spark = h.spark
  private val Passes = 3

  private def embeddings: DataFrame = spark.read.parquet(s"$dataDir/embeddings.parquet")
  private def documents: DataFrame = spark.read.parquet(s"$dataDir/documents.parquet")

  /** Best-of-`Passes` seconds to run `df` to completion. */
  private def time(df: DataFrame): Double =
    (1 to Passes).map { _ =>
      val t = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t) / 1e9
    }.min

  private def pairs: DataFrame = {
    val e = embeddings
    e.filter(col("vec_id") % 4 === 0).select(col("vec_id").as("ka"), col("embedding").as("va"))
      .crossJoin(e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("kb"), col("embedding").as("vb")))
  }

  /** One kernel: time both forms over `rows` inputs, compare results. */
  private def kernel(k: String, rows: Long, native: DataFrame, hof: DataFrame,
      same: (Array[Row], Array[Row]) => Boolean): (Seq[(String, Double)], OpRecord) = {
    val t0 = System.nanoTime()
    val ok = try same(native.collect(), hof.collect()) catch { case e: Throwable =>
      System.err.println(s"[perfbench] kernel $k failed: ${Harness.rootMessage(e)}")
      false
    }
    if (!ok) System.err.println(s"[perfbench] kernel $k: native and declarative forms differ")
    val rec = OpRecord(s"kernel_$k", "kernel", t0, (System.nanoTime() - t0) / 1e9, ok, traced = true,
      error = if (ok) "" else "native != declarative")
    val nativeNs = time(native) * 1e9 / rows
    val hofNs = time(hof) * 1e9 / rows
    (Seq(s"functions.$k.ns_per_row" -> nativeNs, s"functions.$k.hof_ns_per_row" -> hofNs), rec)
  }

  /** Bit-exact equality of two results, rows paired after sorting. */
  private def exact(a: Array[Row], b: Array[Row]): Boolean = {
    def bits(r: Row): Seq[Any] = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }
    a.length == b.length && a.nonEmpty &&
      a.toSeq.sortBy(Results.canon).map(bits) == b.toSeq.sortBy(Results.canon).map(bits)
  }

  def run(): KernelResult = {
    graft.functions.GraftFunctions.register(spark)
    val results = Seq(cosine(), intL2(), pqAdc(), trigramCounts(), trigramHits())
    KernelResult(results.flatMap(_._1).toMap, results.map(_._2))
  }

  private def cachedPairs(select: Column*): DataFrame = {
    val p = pairs.select(select: _*).cache()
    p.count()
    p
  }

  private def cosine() = {
    val p = cachedPairs(col("ka"), col("kb"), col("va"), col("vb"))
    val n = p.count()
    val r = kernel("cosine_sim", n,
      p.select(col("ka"), col("kb"), call_function("cosine_sim", col("va"), col("vb")).as("v")),
      p.select(col("ka"), col("kb"), graft.functions.VectorOps.cosine(col("va"), col("vb")).as("v")),
      exact)
    p.unpersist()
    r
  }

  private def intL2() = {
    val quant = "transform(%s, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
    val p = cachedPairs(col("ka"), col("kb"),
      expr(quant.format("va")).as("va"), expr(quant.format("vb")).as("vb"))
    val n = p.count()
    val r = kernel("int_l2_sq", n,
      p.select(col("ka"), col("kb"), call_function("int_l2_sq", col("va"), col("vb")).as("v")),
      p.select(col("ka"), col("kb"), expr(
        "aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)").as("v")),
      exact)
    p.unpersist()
    r
  }

  private def pqAdc() = {
    val nSub = 8
    val subDim = 8
    val pqK = 16
    val cb = embeddings.filter(col("vec_id") < pqK)
      .select(col("vec_id").cast("int").as("cell"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .select((col("pos") / subDim).cast("int").as("sub"), col("cell"), col("v"))
      .groupBy(col("sub"), col("cell"))
      .agg(collect_list(col("v")).as("centroid"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cell"), col("centroid")))).as("cb"))
    val dist =
      s"""aggregate(zip_with(slice(qe, c.sub * $subDim + 1, $subDim),
         |  c.centroid, (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),
         |  cast(0 as double), (x, y) -> x + y)""".stripMargin
    // the query vector of row i is the embedding of row (i * 7) mod n
    val e = embeddings
    val n0 = e.count()
    val corpus = e.crossJoin(broadcast(cb))
      .withColumn("codes", call_function("pq_encode_codes",
        col("embedding"), col("cb"), lit(nSub), lit(subDim)))
      .join(e.select(col("vec_id").as("qid"), col("embedding").as("qe")),
        col("qid") === (col("vec_id") * 7) % n0)
      .withColumn("dtk", expr(s"transform(cb, c -> c.sub * $pqK + c.cell)"))
      .withColumn("dtv", expr(s"transform(cb, c -> $dist)"))
      .withColumn("dt", expr(s"map_from_entries(transform(cb, c -> struct(c.sub * $pqK + c.cell, $dist)))"))
      .select("vec_id", "codes", "dtk", "dtv", "dt").cache()
    val n = corpus.count()
    val r = kernel("pq_adc_distance", n,
      corpus.select(col("vec_id"), call_function("pq_adc_distance",
        col("codes"), col("dtk"), col("dtv"), lit(nSub), lit(pqK)).as("v")),
      corpus.select(col("vec_id"), expr(
        s"""aggregate(sequence(0, ${nSub - 1}), cast(0 as double),
           |  (acc, s) -> acc + element_at(dt, s * $pqK + element_at(codes, s + 1)))""".stripMargin)
        .as("v")),
      exact)
    corpus.unpersist()
    r
  }

  private def docsText: DataFrame = {
    val d = documents.filter(length(col("text")) >= 3).select(col("doc_id"), col("lang"), col("text"))
      .cache()
    d.count()
    d
  }

  private def explodeGrams(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"), explode(expr("sequence(1, length(text) - 2)")).as("i"),
        col("text"))
      .select(col("doc_id"), col("lang"), expr("substring(text, i, 3)").as("g"))

  private def trigramCounts() = {
    val d = docsText
    val r = kernel("trigram_counts", d.count(),
      d.select(col("doc_id"), explode(call_function("trigram_counts", col("text"))).as(Seq("g", "c"))),
      explodeGrams(d).groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c")),
      exact)
    d.unpersist()
    r
  }

  private def trigramHits() = {
    val d = docsText
    val prof = explodeGrams(d).groupBy(col("lang").as("p_lang"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("p_lang"))
          .orderBy(col("cnt").desc, col("g").asc)))
      .filter(col("rk") <= 40).select(col("p_lang"), col("g")).cache()
    prof.count()
    val profArr = prof.groupBy(col("p_lang"))
      .agg(array_sort(collect_list(col("g"))).as("gs"))
      .agg(array_sort(collect_list(struct(col("p_lang"), col("gs")))).as("profs"))
    val native = d.crossJoin(broadcast(profArr))
      .select(col("doc_id"), col("profs"),
        posexplode(call_function("trigram_profile_hits", col("text"), col("profs")))
          .as(Seq("pi", "score")))
      .filter(col("score") > 0)
      .select(col("doc_id"), expr("profs[pi].p_lang").as("p_lang"), col("score"))
    val declarative = explodeGrams(d).select(col("doc_id"), col("g"))
      .join(broadcast(prof), Seq("g"))
      .groupBy(col("doc_id"), col("p_lang"))
      .agg(count(lit(1)).as("score"))
    val r = kernel("trigram_profile_hits", d.count(), native, declarative, exact)
    prof.unpersist()
    d.unpersist()
    r
  }
}
