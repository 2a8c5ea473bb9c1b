package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counter snapshot taken at a span boundary on the client thread: the
  * operations counted by [[CountingLocalFs]], the byte counts of Hadoop's
  * per-scheme FileSystem statistics, and the request count of the in-JVM
  * object store when one is running. */
final case class Counters(
    fsOpens: Long, fsReadOps: Long, fsWriteOps: Long, fsBytesRead: Long,
    fsBytesWritten: Long, s3Requests: Long) {
  def -(o: Counters): Counters = Counters(
    fsOpens - o.fsOpens, fsReadOps - o.fsReadOps, fsWriteOps - o.fsWriteOps,
    fsBytesRead - o.fsBytesRead, fsBytesWritten - o.fsBytesWritten,
    s3Requests - o.s3Requests)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0)

  def now(s3Requests: () => Long): Counters = {
    var br, bw = 0L
    FileSystem.getAllStatistics.asScala.foreach { s =>
      br += s.getBytesRead
      bw += s.getBytesWritten
    }
    Counters(CountingLocalFs.opens.get, CountingLocalFs.reads.get,
      CountingLocalFs.writes.get, br, bw, s3Requests())
  }
}

/** Engine work the listener attributed to one span (exclusive: only the
  * jobs whose innermost open span this was). */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var gcMs = 0L; var shuffleBytes = 0L
  var inputBytes = 0L; var outputBytes = 0L; var outputRecords = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs; shuffleBytes += o.shuffleBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    outputRecords += o.outputRecords
  }
}

/** One timed call into a layer.  Times are epoch milliseconds (the clock
  * Spark's listener events carry), derived from `System.nanoTime` so
  * sub-millisecond spans keep their precision. */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Long, val startMs: Double) {
  var endMs: Double = startMs
  var counters: Counters = Counters.zero
  var attrs: Map[String, Double] = Map.empty
  def ms: Double = endMs - startMs
}

/**
 * Span recorder for the traced run.  The benchmark opens a span around
 * each call it makes into a layer (`sql`, `io` copy, `io.Snapshots`,
 * `io.catalog`, `meta`, `ops`); a [[SparkListener]] attributes every job,
 * stage and task to the innermost span open when the job was submitted,
 * through the `perfbench.span` local property set on the client thread
 * (jobs submitted from other threads fall back to their start time).
 * Spans stay in memory and are written out when the run ends.
 *
 * The untraced run uses [[Trace.off]], whose `span` is a bare call.
 */
final class Trace(spark: SparkSession, s3Requests: () => Long)
    extends Tracer {
  private val SpanKey = "perfbench.span"
  private val base = (System.currentTimeMillis().toDouble, System.nanoTime())
  private def nowMs: Double = base._1 + (System.nanoTime() - base._2) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var overheadNanos = 0L

  // listener side (listener-bus thread)
  private final case class Job(startMs: Long, var endMs: Long)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val work = new ConcurrentHashMap[Integer, Work]()
  @volatile private var events = 0L

  private def workOf(span: Int): Work =
    work.computeIfAbsent(span, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      events += 1
      val prop = Option(j.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toInt)
      val span = prop.getOrElse(spanAt(j.time.toDouble))
      jobs.put(j.jobId, Job(j.time, j.time))
      j.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
      workOf(span).synchronized(workOf(span).jobs += 1)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      events += 1
      Option(jobs.get(j.jobId)).foreach(_.endMs = j.time)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      events += 1
      Option(stageSpan.get(s.stageInfo.stageId)).foreach { sp =>
        val w = workOf(sp)
        w.synchronized(w.stages += 1)
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      events += 1
      val m = t.taskMetrics
      Option(stageSpan.get(t.stageId)).foreach { sp =>
        val w = workOf(sp)
        w.synchronized {
          w.tasks += 1
          if (m != null) {
            w.taskMs += m.executorRunTime
            w.gcMs += m.jvmGCTime
            w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            w.inputBytes += m.inputMetrics.bytesRead
            w.outputBytes += m.outputMetrics.bytesWritten
            w.outputRecords += m.outputMetrics.recordsWritten
          }
        }
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Innermost span open at `t` (-1 = none), for jobs that carry no
    * span property. */
  private def spanAt(t: Double): Int = synchronized {
    spans.reverseIterator.find(s =>
      s.startMs <= t && (s.endMs >= t || open.contains(s)))
      .map(_.id).getOrElse(-1)
  }

  def span[T](name: String, op: Long)(body: => T): T = {
    val t0 = System.nanoTime()
    val s = synchronized {
      val s = new Span(spans.size, name, open.headOption.map(_.id)
        .getOrElse(-1), op, nowMs)
      spans += s
      open = s :: open
      s
    }
    val before = Counters.now(s3Requests)
    spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
    overheadNanos += System.nanoTime() - t0
    try body
    finally {
      val t1 = System.nanoTime()
      s.endMs = nowMs
      s.counters = Counters.now(s3Requests) - before
      synchronized { open = open.tail }
      spark.sparkContext.setLocalProperty(SpanKey,
        open.headOption.map(_.id.toString).orNull)
      overheadNanos += System.nanoTime() - t1
    }
  }

  /** Attach a measured attribute (files written, rows changed, ...) to
    * the most recent span of `name`. */
  def note(name: String, key: String, v: => Double): Unit = synchronized {
    spans.reverseIterator.find(_.name == name)
      .foreach(s => s.attrs += key -> v)
  }

  def overheadMs: Double = overheadNanos / 1e6

  /** Wait until the asynchronous listener bus has gone quiet, so every
    * job of the finished spans has been attributed. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.currentTimeMillis() + 5000
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      if (events == last) quiet += 1 else { quiet = 0; last = events }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Every job's (start, end) in epoch ms. */
  def jobIntervals: Seq[(Double, Double)] =
    jobs.values().asScala.toSeq.map(j =>
      (j.startMs.toDouble, math.max(j.startMs, j.endMs).toDouble))

  /** Engine work attributed to each span and all its descendants. */
  def inclusiveWork: Map[Int, Work] = {
    val ss = allSpans
    val byId = ss.map(s => s.id -> s).toMap
    val out = mutable.HashMap.empty[Int, Work]
    work.asScala.foreach { case (sp, w) =>
      var cur: Int = sp
      while (cur >= 0) {
        out.getOrElseUpdate(cur, new Work).add(w)
        cur = byId.get(cur).map(_.parent).getOrElse(-1)
      }
    }
    out.toMap
  }

  /** Write every span as one JSON line: name, start, end, parent, op id,
    * self time, the engine work and counter deltas attributed to it. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val ss = allSpans
    val incl = inclusiveWork
    val children = ss.groupBy(_.parent)
    val lines = ss.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      val self = s.ms - Intervals.coveredMs(kids.map(k => (k.startMs, k.endMs)),
        s.startMs, s.endMs)
      val w = incl.getOrElse(s.id, new Work)
      val c = s.counters
      Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self,
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "task_ms" -> w.taskMs, "gc_ms" -> w.gcMs,
        "shuffle_bytes" -> w.shuffleBytes, "input_bytes" -> w.inputBytes,
        "output_bytes" -> w.outputBytes,
        "fs_opens" -> c.fsOpens, "fs_read_ops" -> c.fsReadOps,
        "fs_write_ops" -> c.fsWriteOps,
        "fs_bytes_read" -> c.fsBytesRead,
        "fs_bytes_written" -> c.fsBytesWritten,
        "s3_requests" -> c.s3Requests) ++ s.attrs.toSeq)
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Trace {
  /** No listener, no counters: the untraced run's spans are bare calls. */
  val off: Tracer = new Tracer {
    def span[T](name: String, op: Long)(body: => T): T = body
    def note(name: String, key: String, v: => Double): Unit = ()
  }
}

/** What workloads call; either a real [[Trace]] or [[Trace.off]]. */
trait Tracer {
  def span[T](name: String, op: Long)(body: => T): T
  /** Attach an attribute to the latest `name` span; `v` is evaluated only
    * when tracing. */
  def note(name: String, key: String, v: => Double): Unit
}

object Intervals {
  /** Length of the part of [lo, hi] the union of `iv` covers. */
  def coveredMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    covered
  }
}
