package perfbench

import graft.io.CopyTo
import graft.sql.CopySql

/**
 * `copy_local`: pg_parquet's throughput path on the local file system.
 * Each cycle exports a seeded 90% slice of lineitem with
 * `COPY (query) TO` (zstd, 2 MB files) and imports it back with
 * `COPY lineitem_wide_<cycle> FROM` into a widened table (match_by
 * name), which materializes every row.  Both row counts and a column
 * checksum are checked against the source.  Outputs are kept until the
 * next set-up, so the loop deletes nothing.
 */
final class CopyLocal(ctx: Ctx, rows: Long) extends Workload {
  import ctx._

  val warmupCycles = 4
  val readKinds = Set("import")
  val writeKinds = Set("export")

  private val src = s"$dir/copy/lineitem"
  private val outs = s"$dir/copy/out"
  /** checksum of the source rows in each `l_orderkey % 10` class */
  private var classSums: Map[Long, Seq[Long]] = Map.empty
  private var total: Seq[Long] = Nil

  def setup(): Unit = {
    rmrf(s"$dir/copy")
    Data.lineitem(spark, Data.Seed, rows).write.parquet(src)
    spark.read.parquet(src).createOrReplaceTempView("lineitem")
    classSums = spark.sql(
      "SELECT l_orderkey % 10, count(*), sum(l_partkey), " +
        "sum(CAST(round(l_quantity * 100) AS BIGINT)), " +
        "sum(CAST(l_linenumber AS BIGINT)) FROM lineitem GROUP BY 1")
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    total = (0 until 4).map(i => classSums.values.map(_(i)).sum)
  }

  def cycle(c: Long): Seq[() => Unit] = {
    val skip = rng(c).nextInt(10).toLong
    val expect = total.zip(classSums(skip)).map { case (a, b) => a - b }
    val out = s"$outs/$c"
    Seq(
      () => op("export") {
        val text = s"COPY (SELECT * FROM lineitem WHERE l_orderkey % 10 <> $skip) " +
          s"TO '$out' (format parquet, compression zstd, file_size_bytes '2MB')"
        val cmd = layer("sql.parse")(CopySql.parse(text)).get
        layer("io.copy_to")(cmd.run(spark))
      } { r =>
        Check.ensure(r.head.getLong(0) == expect.head,
          s"exported ${r.head.getLong(0)} rows, expected ${expect.head}")
        val (files, bytes) = CopyTo.listDataFiles(spark, out)
        trace.note("io.copy_to", "files", files.size)
        trace.note("io.copy_to", "bytes", bytes)
      },
      () => {
        // a fresh target per cycle: nothing is deleted inside the loop
        val table = s"lineitem_wide_$c"
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.sql(s"CREATE TABLE $table (${Data.lineitemWideDdl}) USING parquet")
        val (files, bytes) = CopyTo.listDataFiles(spark, out)
        op("import") {
          val text = s"COPY $table FROM '$out' (format parquet, match_by name)"
          val cmd = layer("sql.parse")(CopySql.parse(text)).get
          layer("io.copy_from")(cmd.run(spark))
        } { r =>
          trace.note("io.copy_from", "files", files.size)
          trace.note("io.copy_from", "bytes", bytes)
          Check.ensure(r.head.getLong(0) == expect.head,
            s"imported ${r.head.getLong(0)} rows, expected ${expect.head}")
          val got = spark.sql(Data.lineitemChecksum(table)).head()
          val sums = (0 until 4).map(got.getLong)
          Check.ensure(sums == expect, s"import checksum $sums != $expect")
        }
      })
  }
}
