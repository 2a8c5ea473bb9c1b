package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Per-layer metrics of a traced run, derived from the spans of the timed
 * ops.  Every workload reports the full list; a layer a workload never
 * calls reads 0.  Per-call figures are means over the layer's calls.
 * `driver_ms` is span time during which no Spark job was running.
 */
object Layers {
  val snapshotCommits = Seq("append", "merge", "delete", "compact", "expire")
  val inspectors = Seq("schema", "metadata", "file_metadata", "kv_metadata",
    "column_stats")

  def metrics(t: Trace, firstOp: Long, attrs: Map[String, Double],
      spark: SparkSession): Seq[(String, Double, String)] = {
    val spans = t.allSpans.filter(_.op >= firstOp)
    val incl = t.inclusiveWork
    val jobs = t.jobIntervals
    def work(s: Span): Work = incl.getOrElse(s.id, new Work)
    def driverMs(s: Span): Double =
      s.ms - Intervals.coveredMs(jobs, s.startMs, s.endMs)
    def named(n: String): Seq[Span] = spans.filter(_.name == n)
    def mean(n: String)(f: Span => Double): Double = {
      val ss = named(n)
      if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
    }
    def ratio(ss: Seq[Span])(num: Span => Double, den: Span => Double): Double = {
      val d = ss.map(den).sum
      if (d == 0) 0.0 else ss.map(num).sum / d
    }
    def attr(k: String)(s: Span): Double = s.attrs.getOrElse(k, 0.0)

    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def m(name: String, unit: String, v: Double): Unit = out += ((name, v, unit))

    m("sql.parse_ms", "ms", mean("sql.parse")(_.ms))

    m("io.copy_to.ms", "ms", mean("io.copy_to")(_.ms))
    m("io.copy_to.jobs", "count", mean("io.copy_to")(work(_).jobs))
    m("io.copy_to.task_s", "s", mean("io.copy_to")(work(_).taskMs / 1000.0))
    m("io.copy_to.driver_ms", "ms", mean("io.copy_to")(driverMs))
    m("io.copy_to.files", "count", mean("io.copy_to")(attr("files")))
    m("io.copy_to.bytes_written", "B", mean("io.copy_to")(attr("bytes")))

    val copyFrom = named("io.copy_from")
    m("io.copy_from.plan_ms", "ms", mean("io.copy_from")(driverMs))
    m("io.copy_from.scan_ms", "ms", mean("io.copy_from")(s => s.ms - driverMs(s)))
    m("io.copy_from.scan_task_s", "s",
      mean("io.copy_from")(work(_).taskMs / 1000.0))
    m("io.copy_from.opens_per_file", "count",
      ratio(copyFrom)(_.counters.fsOpens.toDouble, attr("files")))
    m("io.copy_from.bytes_read_per_file_byte", "ratio",
      ratio(copyFrom)(work(_).inputBytes.toDouble, attr("bytes")))

    snapshotCommits.foreach { k =>
      val n = s"io.snapshots.$k"
      m(s"$n.ms", "ms", mean(n)(_.ms))
      m(s"$n.jobs", "count", mean(n)(work(_).jobs))
      m(s"$n.driver_ms", "ms", mean(n)(driverMs))
      m(s"$n.fs_ops", "count", mean(n)(s =>
        s.counters.fsOpens + s.counters.fsReadOps + s.counters.fsWriteOps))
      m(s"$n.bytes_written", "B", mean(n)(_.counters.fsBytesWritten))
    }
    val dml = named("io.snapshots.merge") ++ named("io.snapshots.delete")
    m("io.snapshots.rewrite_amp", "ratio",
      dml.map(work(_).outputRecords).sum /
        math.max(1.0, attrs.getOrElse("io.snapshots.rows_changed", 0.0)))
    Seq("live_files" -> "count", "versions" -> "count", "space_amp" -> "ratio")
      .foreach { case (k, u) =>
        m(s"io.snapshots.$k", u, attrs.getOrElse(s"io.snapshots.$k", 0.0))
      }
    m("io.snapshots.read_plan_ms", "ms", mean("io.snapshots.read_plan")(_.ms))
    m("io.snapshots.read_plan_jobs", "count",
      mean("io.snapshots.read_plan")(work(_).jobs))

    m("io.catalog.scan_ms", "ms", mean("io.catalog.scan")(_.ms))
    m("io.catalog.scan_jobs", "count", mean("io.catalog.scan")(work(_).jobs))
    m("io.catalog.files_read", "count", mean("io.catalog.scan")(attr("files")))
    m("io.catalog.bytes_read", "B", mean("io.catalog.scan")(work(_).inputBytes))

    Seq("inspect", "import", "export").foreach { k =>
      m(s"io.s3.requests_per_op.$k", "count",
        mean(s"op.$k")(_.counters.s3Requests))
    }
    m("io.s3.requests_per_file", "count",
      ratio(named("op.inspect") ++ named("op.import"))(
        _.counters.s3Requests.toDouble, attr("files")))

    inspectors.foreach { k =>
      val n = s"meta.$k"
      m(s"$n.ms", "ms", mean(n)(_.ms))
      m(s"$n.jobs", "count", mean(n)(work(_).jobs))
      m(s"$n.driver_ms", "ms", mean(n)(driverMs))
    }

    m("ops.search.plan_ms", "ms", mean("ops.search.plan")(_.ms))
    m("ops.search.plan_jobs", "count", mean("ops.search.plan")(work(_).jobs))
    m("ops.search.exec_ms", "ms", mean("ops.search.exec")(_.ms))
    m("ops.search.exec_jobs", "count", mean("ops.search.exec")(work(_).jobs))
    m("ops.search.files_read_frac", "ratio", ratio(named("ops.search.exec"))(
      attr("files"), attr("live_files")))
    m("ops.search.recall_at_10", "ratio", mean("ops.search.exec")(attr("recall")))
    Seq("insert", "delete", "compact").foreach { k =>
      m(s"ops.$k.ms", "ms", mean(s"ops.$k")(_.ms))
      m(s"ops.$k.jobs", "count", mean(s"ops.$k")(work(_).jobs))
    }

    // engine totals over every timed op (the ops are the root spans)
    val ops = spans.filter(_.parent < 0)
    val n = math.max(1, ops.size).toDouble
    val w = new Work
    ops.foreach(o => w.add(work(o)))
    val opMs = ops.map(_.ms).sum
    val busyMs = ops.map(o => Intervals.coveredMs(jobs, o.startMs, o.endMs)).sum
    m("spark.jobs_per_op", "count", w.jobs / n)
    m("spark.stages_per_op", "count", w.stages / n)
    m("spark.tasks_per_op", "count", w.tasks / n)
    m("spark.task_s_per_op", "s", w.taskMs / 1000.0 / n)
    m("spark.gc_s_per_op", "s", w.gcMs / 1000.0 / n)
    m("spark.shuffle_bytes_per_op", "B", w.shuffleBytes / n)
    m("spark.driver_idle_frac", "ratio", if (opMs == 0) 0.0 else 1 - busyMs / opMs)
    m("spark.core_efficiency", "ratio",
      if (opMs == 0) 0.0 else w.taskMs / (opMs * spark.sparkContext.defaultParallelism))

    m("spark.persisted_rdds_left", "count",
      spark.sparkContext.getPersistentRDDs.size)
    System.gc()
    val rt = Runtime.getRuntime
    m("jvm.heap_after_gc_mb", "MB", (rt.totalMemory - rt.freeMemory) / 1048576.0)
    m("trace.overhead_frac", "ratio", if (opMs == 0) 0.0 else t.overheadMs / opMs)
    out.toSeq
  }
}
