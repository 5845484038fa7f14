package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every value is a pure function of
  * `(seed, row id)` through `xxhash64`, so the same seed gives the same
  * rows whatever the partitioning. Shapes and value ranges follow the
  * sf0.1 TPC-H-style test tables (`customer`, `orders`, `documents`,
  * `embeddings`). */
object Data {
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Vocab = Seq("a", "the", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "batch", "agg",
    "filter", "big", "query", "key", "window", "row", "part", "table",
    "stream", "merge", "data", "join", "vector", "customer")

  val PatientCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
    "c_mktsegment")
  val ClaimCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  private def arr(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("array(", ", ", ")")
  private def pick(xs: Seq[String], h: String) =
    s"element_at(${arr(xs)}, cast(pmod($h, ${xs.size}) AS INT) + 1)"

  /** `customer`-shaped rows: keys `0 until n`. */
  def customers(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.sql(
      s"""SELECT id AS c_custkey,
         |  concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name,
         |  CAST(pmod(xxhash64($seed, 1, id), 25) AS INT) AS c_nationkey,
         |  CAST(pmod(xxhash64($seed, 2, id), 1099986) - 99985 AS DOUBLE) / 100.0
         |    AS c_acctbal,
         |  ${pick(Segments, s"xxhash64($seed, 3, id)")} AS c_mktsegment
         |FROM range(0, $n, 1, 4)""".stripMargin)

  /** `orders`-shaped rows with keys `from until to`; prices are whole
    * cents so a model can track their sum exactly. */
  def orders(spark: SparkSession, from: Long, to: Long, nCust: Long,
      seed: Long): DataFrame =
    spark.sql(
      s"""SELECT id AS o_orderkey,
         |  pmod(xxhash64($seed, 4, id), $nCust) AS o_custkey,
         |  ${pick(Statuses, s"xxhash64($seed, 5, id)")} AS o_orderstatus,
         |  CAST(100191 + pmod(xxhash64($seed, 6, id), 49889300) AS DOUBLE) / 100.0
         |    AS o_totalprice,
         |  CAST(date_add(DATE'1995-01-01',
         |    CAST(pmod(xxhash64($seed, 7, id), 2404) AS INT)) AS TIMESTAMP)
         |    AS o_orderdate,
         |  ${pick(Priorities, s"xxhash64($seed, 8, id)")} AS o_orderpriority
         |FROM range($from, $to, 1, 4)""".stripMargin)

  /** `documents`-shaped rows. One in ten copies an earlier document
    * with its third word replaced, so near-duplicate detection has
    * work to do. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.sql(
      s"""WITH d AS (
         |  SELECT id,
         |    CASE WHEN id >= 10 AND pmod(xxhash64($seed, 9, id), 10) = 0
         |         THEN pmod(xxhash64($seed, 10, id), id) ELSE id END AS src
         |  FROM range(0, $n, 1, 4)),
         |t AS (
         |  SELECT id, concat_ws(' ', transform(
         |      sequence(1, 8 + CAST(pmod(xxhash64($seed, 11, src), 90) AS INT)),
         |      i -> ${pick(Vocab,
                 s"xxhash64($seed, 12, CASE WHEN i = 3 THEN id ELSE src END, i)")}))
         |    AS text
         |  FROM d)
         |SELECT id AS doc_id, text,
         |  ${pick(Seq("en", "en", "en", "zh", "de", "fr", "es"),
                   s"xxhash64($seed, 13, id)")} AS lang,
         |  concat('src', CAST(pmod(id, 20) AS STRING)) AS source,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM t""".stripMargin)

  /** `embeddings`-shaped rows: 64-dim unit vectors with a bell-shaped
    * component distribution (sum of three uniforms) and ten labels. */
  def embeddings(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    def u(k: Int) = s"(CAST(pmod(xxhash64($seed, $k, id, d), 20001) AS DOUBLE) - 10000.0)"
    spark.sql(
      s"""WITH r AS (
         |  SELECT id, transform(sequence(0, 63), d -> ${u(14)} + ${u(15)} + ${u(16)})
         |    AS raw
         |  FROM range(0, $n, 1, 4))
         |SELECT id AS vec_id,
         |  transform(raw, x -> CAST(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y))
         |    AS FLOAT)) AS embedding,
         |  CAST(pmod(xxhash64($seed, 17, id), 10) AS INT) AS label
         |FROM r""".stripMargin)
  }
}
