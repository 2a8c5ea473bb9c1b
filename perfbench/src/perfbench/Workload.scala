package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Outcome of the timed ops of one run. */
final class Recorder {
  /** kind -> (cycle, latency ms) of every op that succeeded. */
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, Double)]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
}

/** What a workload's ops share: the session, the seed, a local work
  * directory, the tracer and the recorder.  `op` is the one way an
  * operation runs: timed, traced as an `op.<kind>` span, its output
  * checked, and counted. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: String,
    val trace: Tracer) {
  val rec = new Recorder
  private var opId = 0L
  /** False during set-up and warm-up: ops still run and are checked, but
    * a failure aborts set-up instead of being counted. */
  var timing = false
  var cycle = 0L

  def op[T](kind: String)(body: => T)(check: T => Unit): Unit = {
    opId += 1
    val t0 = System.nanoTime()
    val out = try Right(trace.span("op." + kind, opId)(body))
      catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val bad = out.fold(e => Some(e.toString),
      v => try { check(v); None } catch { case e: Exception => Some(e.toString) })
    if (!timing) bad.foreach(m =>
      throw new IllegalStateException(s"set-up $kind failed: $m"))
    else {
      rec.attempted += 1
      bad match {
        case Some(m) =>
          rec.failed += 1
          if (rec.failures.size < 5) rec.failures += s"$kind: $m"
        case None =>
          rec.latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
            cycle -> ms
      }
    }
  }

  /** Id the next op will get. */
  def nextOp: Long = opId + 1

  /** A layer call, traced as a span of `name` inside the current op. */
  def layer[T](name: String)(body: => T): T = trace.span(name, opId)(body)

  def fs(uri: String): org.apache.hadoop.fs.FileSystem =
    new Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def rmrf(uri: String): Unit = fs(uri).delete(new Path(uri), true)

  /** Random stream of cycle `c`, derived from the run's seed. */
  def rng(c: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + c)
}

/** One benchmark workload: a closed loop of one client.  `setup` builds
  * the workload's state from scratch; `cycle(c)` returns the ops of cycle
  * `c` in order, each a closure that calls [[Ctx.op]].  The end-to-end
  * read metric is the median over cycles of the mean latency of that
  * cycle's `readKinds` ops; the write metric is the same over
  * `writeKinds`. */
trait Workload {
  /** Untimed cycles run after set-up, until the JIT has mostly settled
    * on the op paths. */
  def warmupCycles: Int
  /** Untimed ops run after the warm-up cycles. */
  def warmupOps: Seq[() => Unit] = Nil
  def readKinds: Set[String]
  def writeKinds: Set[String]
  def setup(): Unit
  def cycle(c: Long): Seq[() => Unit]
  /** Per-layer attributes measured once at the end of the run. */
  def finish(): Map[String, Double] = Map.empty
  /** Resources outside the session to release. */
  def close(): Unit = ()
}

object Check {
  def ensure(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(msg)
}
