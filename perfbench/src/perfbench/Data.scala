package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded synthetic inputs, TPC-H-shaped so the copy and metadata paths
  * see the column types the reference's tables have.  The same seed
  * always gives the same rows.  Base tables use the fixed [[Seed]]; a
  * run's `--seed` picks the slices, keys and queries its ops use. */
object Data {
  val Seed = 42L

  private def h(seed: Long, k: Int) = xxhash64(lit(seed), col("id"), lit(k))

  /** `n` lineitem rows (11 columns), four lines per order: order keys
    * are `1..n/4`, so with `n` a multiple of 40 every residue class of
    * `l_orderkey % 10` holds exactly `n / 10` rows. */
  def lineitem(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    require(n % 40 == 0, "lineitem row count must be a multiple of 40")
    spark.range(0, n, 1, 4).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(h(seed, 1), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(seed, 2), lit(1000L)) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (pmod(h(seed, 3), lit(50L)) + 1).cast("double").as("l_quantity"),
      (pmod(h(seed, 4), lit(10000000L)) / 100.0).as("l_extendedprice"),
      (pmod(h(seed, 5), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(seed, 6), lit(9L)) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(h(seed, 7), lit(3L)) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pmod(h(seed, 8), lit(2L)) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) +
        pmod(h(seed, 9), lit(2500L)) * 86400).as("l_shipdate"))
  }

  /** Widened lineitem target for COPY FROM ... (match_by name). */
  val lineitemWideDdl: String =
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber BIGINT, l_quantity DECIMAL(12,2), " +
      "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate DATE"

  /** Checksum of a lineitem-shaped relation, comparable across the
    * source and the widened import: (rows, sum of partkey, sum of
    * quantity in cents, sum of linenumber). */
  def lineitemChecksum(rel: String): String =
    "SELECT count(*), sum(l_partkey), " +
      "sum(CAST(round(l_quantity * 100) AS BIGINT)), " +
      s"sum(CAST(l_linenumber AS BIGINT)) FROM $rel"

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", TimestampType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))

  private val statuses = Array("F", "O", "P")
  private val priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** One orders row with its fields drawn from `r`; the price is a whole
    * number of cents so sums are exact in DECIMAL. */
  final case class Order(key: Long, cust: Long, status: Byte,
      cents: Long, day: Int, priority: Byte) {
    def row: Row = Row(key, cust, statuses(status), cents / 100.0,
      new java.sql.Timestamp((694224000L + day * 86400L) * 1000L),
      priorities(priority))
  }

  def order(r: scala.util.Random, key: Long): Order =
    Order(key, 1 + r.nextInt(15000), r.nextInt(3).toByte,
      100L + r.nextInt(50000000), r.nextInt(2400), r.nextInt(5).toByte)

  def ordersDf(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(_.row): _*), ordersSchema)

  /** `n` unit-norm vectors of dimension `dim` around 16 seeded centres. */
  def embeddings(seed: Long, n: Int, dim: Int): Array[Array[Float]] = {
    val r = new scala.util.Random(seed * 31 + 7)
    val centres = Array.fill(16, dim)(r.nextGaussian().toFloat)
    Array.tabulate(n) { i =>
      val c = centres(r.nextInt(centres.length))
      val v = Array.tabulate(dim)(d => c(d) + 0.6f * r.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / norm)
    }
  }
}
