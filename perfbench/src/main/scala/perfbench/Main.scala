package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One benchmark run: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --data <dir> --work <dir>`.
  *
  * Set-up (session start and input generation) runs
  * [[SetupReps]] times and `setup_s` is its median; the last set-up is the
  * one measured. The workload then runs for `--seconds`, checks every
  * output outside its timed region, and the run prints one line
  * `PERFBENCH_RESULT {…}` with attempted/failed counts and its metrics.
  *
  * A traced run (`--trace 1`) measures twice: untraced, then with spans
  * and Spark listeners on. Its metrics are the per-layer ones from the
  * second pass, plus the tracing overhead (traced minus untraced value of
  * the workload's headline metric), per-layer probes measured apart
  * from it (the curation queries in `ingest_batch`, retrieval requests in
  * `ingest_stream`), and for `ingest_batch` a `local[1]` single-thread
  * baseline of one pipeline run and one curation pass. Spans go to `<work>/spans.jsonl`. */
object Main {
  val SetupReps = 5

  final case class Ctx(seed: Long, cores: Int, data: File, work: File)

  def main(args: Array[String]): Unit = {
    // before any HttpServer class loads: the JDK server otherwise delays
    // small responses by Nagle + delayed ACK
    System.setProperty("sun.net.httpserver.nodelay", "true")
    // the mock servers' threads would keep a failed run alive
    try run(args) catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val ctx = Ctx(opt("seed").toLong, Runtime.getRuntime.availableProcessors(),
      new File(opt("data")).getAbsoluteFile, new File(opt("work")).getAbsoluteFile)
    var w: Workload = opt("workload") match {
      case "ingest_batch" => new IngestBatch(ctx)
      case "ingest_stream" => new IngestStream(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    var spark: SparkSession = null
    val setupTimes = (0 until SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.start(ctx.cores, ctx.work)
      w.setup(spark, rep)
      (System.nanoTime() - t0) / 1e9
    }
    log(s"set-up done: ${setupTimes.mkString(", ")} s")
    var metrics = Seq(("setup_s", Stats.median(setupTimes), "s"))
    var attempted = 0L
    var failed = 0L
    def count(r: Result): Result = { attempted += r.attempted; failed += r.failed; r }

    val untraced = count(w.measure(spark, seconds))
    log("measured")
    if (!traced) metrics ++= untraced.endToEnd
    else {
      val engine = new EngineListener
      spark.sparkContext.addSparkListener(engine)
      Trace.clear()
      Trace.enabled = true
      val t0 = Trace.now()
      val r = count(w.measure(spark, seconds))
      val t1 = Trace.now()
      engine.drain(spark)
      Trace.span("workload", t0, t1, "", "root", "")
      engine.emitSpans()
      Trace.enabled = false
      spark.sparkContext.removeSparkListener(engine)
      metrics ++= r.layers ++ engine.metrics(r.wallNs, r.units, ctx.cores) ++
        r.endToEnd.collect { case (k, v, u) if k.startsWith("latency_") =>
          (k.replace("latency_", "latency."), v, u) } ++
        count(w.extra(spark)).layers
      val (name, before, _) = untraced.endToEnd.find(_._1 == w.headline).get
      val after = r.endToEnd.find(_._1 == w.headline).get._2
      metrics ++= Seq(
        ("trace.headline_untraced", before, "value"),
        ("trace.headline_traced", after, "value"),
        ("trace.overhead_pct", (after - before) / before * 100.0, "%"))
      Trace.write(new File(ctx.work, "spans.jsonl"))
      printTable(w.name, Trace.layerTable(Trace.all), name)
      if (w.hasBaseline) {
        spark.stop()
        spark = Session.start(1, ctx.work)
        metrics ++= count(w.baseline(spark)).layers
      }
    }
    w.release()
    w = null
    metrics :+= (("retained_heap_mb", Stats.retainedHeapMb(), "MB"))
    spark.stop()
    log("stopped")
    val body = metrics.map { case (k, v, u) =>
      s"${Json.quote(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.quote(u)}}" }.mkString(",")
    println(s"""PERFBENCH_RESULT {"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    System.out.flush()
  }

  /** A progress line on stderr, stamped with JVM uptime. */
  def log(msg: String): Unit = System.err.println(
    f"perfbench: [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s] $msg")

  private def printTable(workload: String, rows: Seq[(String, Int, Double, Double)],
                         headline: String): Unit = {
    println(s"per-layer self time, workload $workload (traced pass; headline $headline):")
    println(f"  ${"layer"}%-16s ${"spans"}%8s ${"total_ms"}%12s ${"self_ms"}%12s")
    rows.foreach { case (n, c, d, s) => println(f"  $n%-16s $c%8d $d%12.1f $s%12.1f") }
  }
}

/** What one measured pass of a workload produced. `endToEnd` are the
  * user-visible metrics, `layers` the workload's own per-layer ones;
  * `units` counts the requests, queries, pipeline runs or micro-batches
  * in `wallNs`, and `unitSeconds` is the median time of one. */
final case class Result(attempted: Long, failed: Long,
                        endToEnd: Seq[(String, Double, String)],
                        layers: Seq[(String, Double, String)],
                        units: Int, wallNs: Long, unitSeconds: Double)

object Result { val empty: Result = Result(0, 0, Nil, Nil, 0, 0L, 0.0) }

trait Workload {
  def name: String
  /** The end-to-end metric whose traced-minus-untraced difference is
    * reported as tracing overhead. */
  def headline: String
  /** Session is fresh; generate inputs and build what the workload reads. */
  def setup(spark: SparkSession, rep: Int): Unit
  def measure(spark: SparkSession, seconds: Double): Result
  /** Per-layer probes measured after the traced pass, untraced. */
  def extra(spark: SparkSession): Result = Result.empty
  /** Whether traced runs end with a single-thread baseline. */
  def hasBaseline: Boolean = false
  /** The single-thread baseline, on a fresh `local[1]` session. */
  def baseline(spark: SparkSession): Result = Result.empty
  /** Drop what the benchmark itself holds before the heap is measured. */
  def release(): Unit = ()
}

object Session {
  /** `local[cores]` with the engine bench's settings: shuffle partitions =
    * cores, AQE coalescing to the advisory size with a floor of 4. */
  def start(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def pctOrZero(q: java.util.Collection[java.lang.Double], p: Double): Double = {
    import scala.jdk.CollectionConverters._
    val xs = q.asScala.map(_.doubleValue).toSeq
    if (xs.isEmpty) 0.0 else pct(xs, p)
  }

  /** Heap used after full GCs, repeated until it stops shrinking: objects
    * such as idle HTTP clients become unreachable only once their threads
    * notice and exit. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Long = { System.gc(); Thread.sleep(200); mx.getHeapMemoryUsage.getUsed }
    var last = used()
    var now = used()
    var rounds = 2
    while (now < last * 0.99 && rounds < 10) { last = now; now = used(); rounds += 1 }
    now / (1024.0 * 1024.0)
  }
}
