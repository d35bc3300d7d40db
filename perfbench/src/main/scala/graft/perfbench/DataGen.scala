package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Synthetic inputs with the fixture schemas (see FIXTURES.md), built
  * from `spark.range` with hash-derived columns so every run of every
  * checkout produces the same bytes. The run seed never reaches this
  * object: data is fixed, the seed picks constants and op order. */
object DataGen {

  /** 1995-01-01T00:00:00Z; dates span about 6.8 years from here. */
  val Epoch1995 = 788918400L
  val ShipDays = 2500
  val OrderDays = 2400

  /** Columns of an `orders` row whose key is `id`. `salt` varies the
    * non-key columns between slices with otherwise equal keys. */
  def ordersCols(salt: Int): Seq[String] = Seq(
    "id AS o_orderkey",
    s"1 + pmod(xxhash64(id, $salt, 1), 15000) AS o_custkey",
    s"element_at(array('F', 'O', 'P'), CAST(1 + pmod(xxhash64(id, $salt, 2), 3) AS INT)) AS o_orderstatus",
    s"CAST(pmod(xxhash64(id, $salt, 3), 50000000) AS DOUBLE) / 100 AS o_totalprice",
    s"timestamp_seconds($Epoch1995 + pmod(xxhash64(id, $salt, 4), $OrderDays) * 86400) AS o_orderdate",
    s"element_at(array('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), " +
      s"CAST(1 + pmod(xxhash64(id, $salt, 5), 5) AS INT)) AS o_orderpriority")

  def orders(spark: SparkSession, n: Long, parts: Int): DataFrame =
    spark.range(1, n + 1, 1, parts).selectExpr(ordersCols(0): _*)

  /** Four lines per order, keys 1..nOrders. */
  def lineitem(spark: SparkSession, nOrders: Long, parts: Int): DataFrame =
    spark.range(0, 4 * nOrders, 1, parts).selectExpr(
      "(id DIV 4) + 1 AS l_orderkey",
      "1 + pmod(xxhash64(id, 11), 20000) AS l_partkey",
      "1 + pmod(xxhash64(id, 12), 1000) AS l_suppkey",
      "CAST(1 + id % 4 AS INT) AS l_linenumber",
      "CAST(1 + pmod(xxhash64(id, 13), 50) AS DOUBLE) AS l_quantity",
      "CAST(1 + pmod(xxhash64(id, 13), 50) AS DOUBLE) * " +
        "(900 + CAST(pmod(xxhash64(id, 14), 100000) AS DOUBLE) / 100) AS l_extendedprice",
      "CAST(pmod(xxhash64(id, 15), 11) AS DOUBLE) / 100 AS l_discount",
      "CAST(pmod(xxhash64(id, 16), 9) AS DOUBLE) / 100 AS l_tax",
      "element_at(array('A', 'N', 'R'), CAST(1 + pmod(xxhash64(id, 17), 3) AS INT)) AS l_returnflag",
      "element_at(array('F', 'O'), CAST(1 + pmod(xxhash64(id, 18), 2) AS INT)) AS l_linestatus",
      s"timestamp_seconds(${Epoch1995 + 86400} + pmod(xxhash64(id, 19), $ShipDays) * 86400) AS l_shipdate")

  private val vocab = Seq("the", "fast", "key", "order", "sort", "table", "scan",
    "merge", "batch", "part", "spark", "line", "column", "small", "value", "a",
    "hash", "slow", "group", "agg", "filter", "query", "big", "window", "row",
    "stream", "data", "vector", "customer", "join")

  /** Word-soup documents. Every 50th repeats its predecessor's text and
    * every 37th repeats it with one word changed, so the dedup queries
    * have exact and near duplicates to find. */
  def documents(spark: SparkSession, n: Long, parts: Int): DataFrame = {
    val v = vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    spark.range(0, n, 1, parts)
      .selectExpr("id AS doc_id",
        "CASE WHEN id % 50 = 49 OR id % 37 = 36 THEN id - 1 ELSE id END AS base",
        "id % 37 = 36 AS near")
      .selectExpr("doc_id",
        s"array_join(transform(sequence(1, CAST(10 + pmod(xxhash64(base, 21), 91) AS INT)), " +
          s"i -> CASE WHEN near AND i = 3 THEN 'delta' " +
          s"ELSE element_at($v, CAST(1 + pmod(xxhash64(base, i, 22), ${vocab.size}) AS INT)) END), ' ') AS text",
        "element_at(array('en', 'en', 'en', 'zh', 'de', 'es', 'fr'), " +
          "CAST(1 + pmod(xxhash64(doc_id, 23), 7) AS INT)) AS lang",
        "concat('src', pmod(xxhash64(doc_id, 24), 20)) AS source")
      .selectExpr("doc_id", "text", "lang", "source", "CAST(length(text) AS BIGINT) AS n_chars")
  }

  /** 64-dim float vectors around ten label centroids. */
  def embeddings(spark: SparkSession, n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts)
      .selectExpr("id AS vec_id", "CAST(pmod(xxhash64(id, 31), 10) AS INT) AS label")
      .selectExpr("vec_id",
        "transform(sequence(0, 63), j -> CAST(" +
          "(CAST(pmod(xxhash64(label, j, 32), 2001) AS DOUBLE) - 1000) / 5000 + " +
          "(CAST(pmod(xxhash64(vec_id, j, 33), 2001) AS DOUBLE) - 1000) / 20000 AS FLOAT)) AS embedding",
        "label")
}
