package perfbench

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.io.CopyTo
import graft.io.s3.InMemoryS3
import graft.meta.ParquetInfo
import graft.sql.CopySql

/**
 * `objstore_inspect`: footer inspection over `s3a://` against the in-JVM
 * S3 endpoint.  Set-up exports lineitem and orders with COPY TO and
 * uploads the files.  Each cycle makes three single-file `ParquetInfo`
 * calls (rotating schema, metadata, file_metadata, kv_metadata and
 * column_stats over the files) and one COPY TO of an orders slice to
 * the store; every third cycle adds a glob COPY FROM that reads one
 * column under a WHERE.  Inspection rows are checked against footers
 * read directly from the local copy of each object.
 */
final class ObjstoreInspect(ctx: Ctx, lineitemRows: Long, orderRows: Int)
    extends Workload {
  import ctx._

  val warmupCycles = 1
  val readKinds = Set("inspect")
  val writeKinds = Set("export")

  private val server =
    new InMemoryS3("PERFBENCHKEY", "perfbench-secret", "us-east-1").start()
  graft.io.CloudConf.applyTo(spark, server.env)
  def requests: Long = server.requestsServed

  private val bucket = "s3a://perfbench"
  private val local = s"$dir/objstore"

  /** What a footer says, read without graft. */
  private final case class Footer(rowGroups: Int, columns: Int, rows: Long,
      kv: Int, bytes: Long)
  private var files: IndexedSeq[(String, Footer)] = IndexedSeq.empty

  private def copy(text: String): Seq[Row] =
    layer("sql.parse")(CopySql.parse(text)).get.run(spark)

  def setup(): Unit = {
    Seq("lineitem", "orders", "out").foreach(t => rmrf(s"$bucket/$t"))
    rmrf(local)
    Data.lineitem(spark, Data.Seed, lineitemRows).createOrReplaceTempView("lineitem")
    Data.ordersDf(spark, {
      val r = new scala.util.Random(Data.Seed)
      (1L to orderRows).map(k => Data.order(r, k))
    }).write.parquet(s"$local/orders_src")
    spark.read.parquet(s"$local/orders_src").createOrReplaceTempView("orders")
    spark.sql("DROP TABLE IF EXISTS li_keys")
    spark.sql("CREATE TABLE li_keys (l_orderkey BIGINT) USING parquet")
    // the objects are COPY TO output made locally and uploaded as is:
    // set-up stays cheap, and the local files are the reference copies
    copy(s"COPY lineitem TO '$local/lineitem' " +
      "(format parquet, compression zstd, file_size_bytes '1MB')")
    copy(s"COPY orders TO '$local/orders' (format parquet, compression zstd)")
    val conf = spark.sparkContext.hadoopConfiguration
    files = Seq("lineitem", "orders").flatMap { t =>
      CopyTo.listDataFiles(spark, s"$local/$t")._1.map { f =>
        val obj = s"$bucket/$t/${new Path(f).getName}"
        ctx.fs(obj).copyFromLocalFile(new Path(f), new Path(obj))
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        try {
          val meta = reader.getFooter
          obj -> Footer(meta.getBlocks.size,
            meta.getFileMetaData.getSchema.getColumns.size,
            reader.getRecordCount,
            meta.getFileMetaData.getKeyValueMetaData.size,
            ctx.fs(f).getFileStatus(new Path(f)).getLen)
        } finally reader.close()
      }
    }.toIndexedSeq
    Check.ensure(files.size >= 4, s"expected several objects, got ${files.size}")
  }

  private val inspectors: IndexedSeq[(String, (SparkSession, String) => DataFrame)] =
    IndexedSeq(
      "schema" -> ParquetInfo.schema _,
      "metadata" -> ParquetInfo.metadata _,
      "file_metadata" -> ParquetInfo.fileMetadata _,
      "kv_metadata" -> ParquetInfo.kvMetadata _,
      "column_stats" -> ParquetInfo.columnStats _)

  private def checkInspect(fn: String, ft: Footer, rows: Array[Row]): Unit = {
    val ok = fn match {
      case "schema" => rows.length == ft.columns + 1
      case "metadata" =>
        rows.length == ft.rowGroups * ft.columns &&
          rows.map(_.getAs[Long]("row_group_id")).distinct.length == ft.rowGroups
      case "file_metadata" =>
        rows.length == 1 && rows.head.getAs[Long]("num_rows") == ft.rows &&
          rows.head.getAs[Long]("num_row_groups") == ft.rowGroups
      case "kv_metadata" => rows.length == ft.kv
      case "column_stats" => rows.length == ft.columns
    }
    Check.ensure(ok, s"$fn returned ${rows.length} rows for $ft")
  }

  def cycle(c: Long): Seq[() => Unit] = {
    val r = rng(c)
    val inspects = (0 until 3).map { j =>
      val (fn, call) = inspectors(((c * 3 + j) % inspectors.size).toInt)
      val (uri, footer) = files(r.nextInt(files.size))
      () => op("inspect") {
        layer(s"meta.$fn")(call(spark, uri).collect())
      } { rows =>
        checkInspect(fn, footer, rows)
        trace.note("op.inspect", "files", 1)
      }
    }
    val key = r.nextInt(10)
    val glob = () => {
      spark.sql("TRUNCATE TABLE li_keys")
      op("import") {
        val cmd = layer("sql.parse")(CopySql.parse(
          s"COPY li_keys (l_orderkey) FROM '$bucket/lineitem/*.parquet' " +
            s"(format parquet) WHERE l_orderkey % 10 = $key")).get
        layer("io.copy_from")(cmd.run(spark))
      } { out =>
        Check.ensure(out.head.getLong(0) == lineitemRows / 10,
          s"glob import kept ${out.head.getLong(0)} rows, " +
            s"expected ${lineitemRows / 10}")
        val read = files.filter(_._1.startsWith(s"$bucket/lineitem/"))
        trace.note("op.import", "files", read.size)
        trace.note("io.copy_from", "files", read.size)
        trace.note("io.copy_from", "bytes", read.map(_._2.bytes).sum)
      }
    }
    val slice = r.nextInt(20)
    val out = s"$bucket/out/$c"
    val export = () => {
      op("export") {
        val cmd = layer("sql.parse")(CopySql.parse(
          s"COPY (SELECT * FROM orders WHERE o_orderkey % 20 = $slice) " +
            s"TO '$out' (format parquet, compression zstd)")).get
        layer("io.copy_to")(cmd.run(spark))
      } { res =>
        val want = (1 to orderRows).count(_ % 20 == slice)
        Check.ensure(res.head.getLong(0) == want,
          s"exported ${res.head.getLong(0)} rows, expected $want")
        val (written, bytes) = CopyTo.listDataFiles(spark, out)
        trace.note("io.copy_to", "files", written.size)
        trace.note("io.copy_to", "bytes", bytes)
      }
      rmrf(out)
    }
    inspects ++ Seq(export) ++ (if (c % 3 == 2) Seq(glob) else Nil)
  }

  override def close(): Unit = server.stop()
}
