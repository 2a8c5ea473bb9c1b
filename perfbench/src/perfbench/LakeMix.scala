package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path

import graft.io.Snapshots

/**
 * `lake_mix`: the snapshot commit protocol with writes beside reads, on
 * a snapshot table and an IVF-PQ index ([[VectorIndex]]) side by side.
 * The table, seeded from `rows` orders, takes each cycle an append of a
 * 1% slice, a keyed merge of ~150 price upserts and a delete of ~150
 * rows, interleaved with four filtered aggregate scans through the SQL
 * catalog route (`graft.`uri``); the index takes one search, one insert
 * and one merge-on-read delete.  Every cycle ends by compacting the
 * table's appended key range, expiring all but its last three versions
 * and compacting the index, so layout and space use stay level from
 * cycle to cycle.  Scan results are checked against a key/count/sum
 * model of the table the benchmark updates as its commits succeed.
 */
final class LakeMix(ctx: Ctx, rows: Int) extends Workload {
  import ctx._

  val warmupCycles = 3
  val readKinds = Set("scan", "search")
  val writeKinds = Set("append", "merge", "delete", "insert")

  private val uri = s"$dir/lake/orders"
  private val live = mutable.LongMap.empty[Data.Order]
  private var nextKey = 0L
  private var changed = 0L // rows upserted or deleted by merge/delete
  private val index = new VectorIndex(ctx, vectors = 2000, dim = 64)

  def setup(): Unit = {
    rmrf(uri)
    live.clear()
    val r = new scala.util.Random(Data.Seed)
    (1L to rows).foreach(k => live(k) = Data.order(r, k))
    nextKey = rows + 1L
    // four files, each exactly a quarter of the key range
    spark.createDataFrame(spark.sparkContext.parallelize(
      live.values.toSeq.sortBy(_.key).map(_.row), 4), Data.ordersSchema)
      .write.parquet(uri)
    Snapshots.init(spark, uri)
    index.setup()
  }

  /** `n` distinct live keys drawn from a window of the seeded key range
    * that lies inside one of its four files, so every merge and delete
    * rewrites exactly one base file and costs the same whatever the
    * seed draws. */
  private def liveKeys(r: scala.util.Random, n: Int): Seq[Long] = {
    val quarter = rows / 4
    val lo = r.nextInt(4) * quarter + 1L
    val keys = live.keysIterator.filter(k => k >= lo && k < lo + quarter)
      .toArray.sorted
    val from = r.nextInt(math.max(1, keys.length - 8 * n))
    r.shuffle(keys.slice(from, from + 8 * n).toSeq).take(n).sorted
  }

  /** Scans filter on `o_custkey % m = k`; the literal `k` is compiled
    * into the generated code, so each `k` has a query of its own. */
  private val m = 13

  /** One scan per `k`: after it, every scan query is compiled. */
  override def warmupOps: Seq[() => Unit] = (0 until m).map(scan)

  private def scan(r: scala.util.Random): () => Unit = scan(r.nextInt(m))

  private def scan(k: Int): () => Unit = {
    () => op("scan") {
      val df = layer("io.snapshots.read_plan") {
        val d = spark.sql("SELECT count(*), " +
          "sum(CAST(o_totalprice AS DECIMAL(15,2))) " +
          s"FROM graft.`$uri` WHERE o_custkey % $m = $k")
        d.queryExecution.executedPlan
        d
      }
      val out = layer("io.catalog.scan")(df.collect())
      (df, out)
    } { case (df, out) =>
      val want = live.valuesIterator.filter(_.cust % m == k).toSeq
      val n = out.head.getLong(0)
      val cents = Option(out.head.getDecimal(1))
        .map(_.movePointRight(2).longValueExact).getOrElse(0L)
      Check.ensure(n == want.size && cents == want.map(_.cents).sum,
        s"scan o_custkey % $m = $k gave ($n, $cents), model has " +
          s"(${want.size}, ${want.map(_.cents).sum})")
      trace.note("io.catalog.scan", "files", Plans.filesRead(df))
    }
  }

  def cycle(c: Long): Seq[() => Unit] = {
    val r = rng(c)
    val append = () => {
      val batch = (0 until rows / 100).map(i => Data.order(r, nextKey + i))
      val df = Data.ordersDf(spark, batch)
      op("append") {
        layer("io.snapshots.append")(Snapshots.appendCommit(spark, uri, df))
      } { _ =>
        batch.foreach(o => live(o.key) = o)
        nextKey += batch.size
      }
    }
    val merge = () => {
      val upd = liveKeys(r, 150).map(k =>
        live(k).copy(cents = 100L + r.nextInt(50000000)))
      val df = Data.ordersDf(spark, upd)
      op("merge") {
        layer("io.snapshots.merge")(
          Snapshots.mergeCommit(spark, uri, df, Seq("o_orderkey")))
      } { _ =>
        upd.foreach(o => live(o.key) = o)
        changed += upd.size
      }
    }
    val delete = () => {
      val keys = liveKeys(r, 150)
      op("delete") {
        layer("io.snapshots.delete")(Snapshots.deleteWhereCommit(
          spark, uri, s"o_orderkey IN (${keys.mkString(", ")})"))
      } { _ =>
        keys.foreach(live.remove)
        changed += keys.size
      }
    }
    // maintenance closes every cycle, so each cycle starts from the same
    // layout: the appended key range compacted, three versions kept
    val compact = () => op("compact") {
      layer("io.snapshots.compact")(Snapshots.compactCommit(spark, uri,
        64L << 20, where = Some(s"o_orderkey > $rows")))
    }(_ => ())
    val expire = () => op("expire") {
      layer("io.snapshots.expire")(Snapshots.expire(spark, uri,
        keepVersions = 3, orphanGraceMs = 0L))
    }(_ => ())
    Seq(append, scan(r), index.search(r), merge, scan(r), index.insert(r),
      delete, scan(r), scan(r), index.delete(r), compact, expire,
      index.compact())
  }

  override def finish(): Map[String, Double] = {
    val live = Snapshots.filesDf(spark, uri).collect().map(_.getString(1))
    val fs = ctx.fs(uri)
    val liveBytes = live.map(f => fs.getFileStatus(
      if (f.contains("://") || f.startsWith("/")) new Path(f)
      else new Path(uri, f)).getLen).sum
    val allBytes = fs.getContentSummary(new Path(uri)).getLength
    val versions = fs.listStatus(new Path(uri, "_graft_manifests")).length
    Map(
      "io.snapshots.live_files" -> live.length.toDouble,
      "io.snapshots.space_amp" -> allBytes.toDouble / math.max(1L, liveBytes),
      "io.snapshots.versions" -> versions.toDouble,
      "io.snapshots.rows_changed" -> changed.toDouble)
  }
}
