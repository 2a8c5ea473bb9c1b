package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point: one closed-loop workload, one client, one
 * driver, `local[1]`: one task thread, so that no stage waits for the
 * slowest of several tasks on a shared machine whose cores run at
 * varying speed, and the driver thread, the JIT and the GC have cores
 * of their own.
 *
 * {{{
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --work <dir>
 * }}}
 *
 * Set-up runs [[SetupReps]] times from scratch (the median is
 * `setup_s`); the workload's untimed warm-up cycles and ops follow
 * (5-30 s, in which the JIT compiles the op paths and each query shape
 * is code-generated once); then cycles run until `--seconds` have
 * passed.  An op that starts before the deadline completes and counts.
 * The last stdout line is the JSON result.
 */
object Main {
  val SetupReps = 3
  val WarmupCycle0 = 1000000L

  def session(work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder().master("local[1]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.io.catalog.GraftCatalog")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "copy_local" => new CopyLocal(ctx, rows = 200000L)
    case "lake_mix" => new LakeMix(ctx, rows = 100000)
    case "objstore_inspect" =>
      new ObjstoreInspect(ctx, lineitemRows = 240000L, orderRows = 20000)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, (q * s.size).toInt))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")

    val t0 = System.nanoTime()
    val spark = session(work, traced)
    var s3: () => Long = () => 0L
    val trace = if (traced) Some(new Trace(spark, () => s3())) else None
    val ctx = new Ctx(spark, seed, s"$work/data", trace.getOrElse(Trace.off))
    val w = workload(name, ctx)
    w match { case o: ObjstoreInspect => s3 = () => o.requests; case _ => }
    val sessionS = (System.nanoTime() - t0) / 1e9

    val setups = (1 to SetupReps).map { _ =>
      val s0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - s0) / 1e9
    }
    // warm-up cycles are numbered apart from the timed ones, so the timed
    // op sequence depends on the seed alone
    val warm0 = System.nanoTime()
    (0 until w.warmupCycles).foreach(i => w.cycle(WarmupCycle0 + i).foreach(_()))
    w.warmupOps.foreach(_())
    val warmS = (System.nanoTime() - warm0) / 1e9

    ctx.timing = true
    val firstOp = ctx.nextOp
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val loop0 = System.nanoTime()
    var c = 1L
    while (System.nanoTime() < deadline) {
      ctx.cycle = c
      val ops = w.cycle(c).iterator
      while (ops.hasNext && System.nanoTime() < deadline) ops.next()()
      c += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val rec = ctx.rec
    val attrs = w.finish()

    // one sample per cycle: the mean latency of the cycle's ops of `kinds`
    def cycleMeans(kinds: Set[String]): Seq[Double] =
      rec.latencies.filter { case (k, _) => kinds(k) }
        .values.flatten.groupBy(_._1).values
        .map(v => v.map(_._2).sum / v.size).toSeq
    val reads = cycleMeans(w.readKinds)
    val writes = cycleMeans(w.writeKinds)
    rec.latencies.foreach { case (k, v) =>
      val ms = v.map(_._2).toSeq
      println(f"# $k%-8s n=${ms.size}%4d p50=${median(ms)}%9.1f ms " +
        f"p90=${quantile(ms, 0.9)}%9.1f ms")
    }
    println(f"# session=$sessionS%.2fs setup=${setups.map(s => f"$s%.2f")
      .mkString("/")}s warmup=$warmS%.2fs loop=$loopS%.2fs cycles=${c - 1} " +
      s"warmup_cycles=${w.warmupCycles} attempted=${rec.attempted} " +
      s"failed=${rec.failed}")
    rec.failures.foreach(f => println(s"# FAILED $f"))

    val metrics: Seq[(String, Double, String)] = trace match {
      case None => Seq(
        ("setup_s", median(setups), "s"),
        ("read_p50_ms", median(reads), "ms"),
        ("write_p50_ms", median(writes), "ms"))
      case Some(t) =>
        t.drain()
        // the end-to-end latencies under tracing: compared with the
        // untraced run's, they give the tracing overhead
        val layers = Layers.metrics(t, firstOp, attrs, spark) ++ Seq(
          ("traced.read_p50_ms", median(reads), "ms"),
          ("traced.write_p50_ms", median(writes), "ms"))
        Files.createDirectories(Paths.get(work, "trace"))
        t.writeSpans(Paths.get(work, "trace", s"$name-$seed.jsonl"))
        layers
    }
    w.close()
    spark.stop()

    val missing = metrics.filter(m => m._2.isNaN || m._2.isInfinite)
    if (missing.nonEmpty) {
      System.err.println("no samples for " + missing.map(_._1).mkString(", "))
      sys.exit(2)
    }
    println(Json.obj(Seq(
      "correct" -> (rec.failed == 0),
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      })))))
  }
}

/** Just enough JSON for flat result objects. */
object Json {
  final case class Raw(text: String)

  private def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => value(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }
      .mkString("{", ", ", "}")
}
