package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.{PipelineConfig, RagPipeline, RunPipeline}

/** Input generation shared by the workloads. Texts are the sf0.1
  * `documents` texts; replicas vary them by vowel rotation, as the engine's
  * `ReplicateDocs` tool does, so no two generated texts are equal. */
object Inputs {
  private val VowelMaps = Array("aeiou", "eioua", "iouae", "ouaei", "uaeio")

  def rotate(text: String, r: Int): String = {
    val to = VowelMaps(Math.floorMod(r, VowelMaps.length))
    text.map { c => val i = "aeiou".indexOf(c); if (i >= 0) to.charAt(i) else c }
  }

  /** The source texts, in `doc_id` order. */
  def texts(spark: SparkSession, data: File): IndexedSeq[String] =
    spark.read.parquet(new File(data, "documents.parquet").getPath)
      .select("doc_id", "text").orderBy("doc_id").collect()
      .flatMap(r => Option(r.getString(1))).toIndexedSeq

  /** `n` distinct texts: a seeded permutation of the sources, each cycle
    * through them under the next vowel rotation. */
  def replicas(sources: IndexedSeq[String], seed: Long, n: Int): IndexedSeq[String] = {
    val perm = new scala.util.Random(seed).shuffle(sources.indices.toVector)
    val seen = mutable.HashSet.empty[String]
    val out = IndexedSeq.newBuilder[String]
    var k = 0
    while (seen.size < n) {
      val t = rotate(sources(perm(k % perm.size)), (k / perm.size + seed).toInt)
      if (seen.add(t)) out += t
      k += 1
      require(k < 10 * (n + perm.size), s"cannot draw $n distinct texts")
    }
    out.result()
  }

  private val isoFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
  def iso(epochMs: Long): String = isoFormat.format(java.time.Instant.ofEpochMilli(epochMs))
  def parseIso(s: String): Long = java.time.Instant.parse(s).toEpochMilli

  def wireLine(text: String, createdAtMs: Long): String =
    s"""{"text":${Json.quote(text)},"created_at":"${iso(createdAtMs)}"}"""

  /** The passages the pipeline must produce for `text`: O3 drops null and
    * empty text; O3.5 lower-cases, splits on whitespace and cuts disjoint
    * windows of `size` tokens; without chunking the text passes whole. */
  def passages(text: String, chunk: Option[Int]): Seq[String] =
    if (text == null || text.isEmpty) Nil
    else chunk match {
      case None => Seq(text)
      case Some(size) =>
        val toks = text.toLowerCase(java.util.Locale.ROOT).dropWhile(_ == ' ').reverse
          .dropWhile(_ == ' ').reverse.split("\\s+", -1).filter(_.nonEmpty)
        toks.grouped(size).map(_.mkString(" ")).toSeq
    }

  /** Writes `lines` to `dest` through a staging file, so a directory
    * listing never sees a partial file. */
  def writeAtomically(staging: File, dest: File, lines: Seq[String]): Unit = {
    staging.getParentFile.mkdirs()
    dest.getParentFile.mkdirs()
    Files.write(staging.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(staging.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** What landed at the mock sink, checked against what the pipeline's
  * parse → filter → chunk semantics predict. Every missing, extra,
  * duplicated or wrongly embedded document counts as one failure. */
object SinkCheck {
  private val stub = graft.embed.StubEmbeddingProvider("titan-v2")

  final case class Landed(text: String, dateMs: Long, arrivalMs: Long)
  final case class Outcome(expected: Int, failed: Int, landed: Seq[Landed], bulks: Int,
                           bytes: Long)

  def check(bulks: Seq[MockBulk.Bulk], index: String => Boolean,
            expected: Seq[(String, Long)], parent: String): Outcome = {
    var failed = 0
    val ids = mutable.HashSet.empty[String]
    val landed = Seq.newBuilder[Landed]
    bulks.foreach { b =>
      Json.parseBulk(b.body).foreach { d =>
        val okVec = d.vector != null && d.text != null &&
          java.util.Arrays.equals(d.vector, stub.embed(d.text).embedding)
        if (!okVec || !index(d.index) || d.date == null || !ids.add(d.id)) failed += 1
        else landed += Landed(d.text, Inputs.parseIso(d.date), b.arrivalMs)
        if (d.text != null)
          Trace.span("sink.doc", b.traceStart, b.traceEnd, Json.fnv(0L, d.text).toString,
            parent = parent)
      }
    }
    val got = landed.result()
    val want = mutable.HashMap.empty[(String, Long), Int]
    expected.foreach(k => want(k) = want.getOrElse(k, 0) + 1)
    got.foreach { l =>
      val k = (l.text, l.dateMs)
      want.get(k) match {
        case Some(c) if c > 0 => want(k) = c - 1
        case _ => failed += 1 // extra or duplicated
      }
    }
    failed += want.values.sum // missing
    Outcome(expected.size, failed, got, bulks.size, bulks.map(_.body.length.toLong).sum)
  }
}

/** `ingest_batch`: `RunPipeline.run` in `mode=batch` over seeded
  * JSON-lines documents, chunked at 32 tokens, embedded by the mock Titan
  * endpoint (25 ms; 1 in 50 passages, chosen by a seeded hash, is
  * throttled once with a 503) and written to the mock `_bulk` endpoint.
  * Each pipeline run reads one of [[InputFiles]] pre-generated files of
  * exactly [[PassagesPerRun]] passages and writes its own index; runs
  * repeat until the measured time is spent. */
final class IngestBatch(ctx: Main.Ctx) extends Workload {
  val name = "ingest_batch"
  val headline = "throughput_per_s"
  override val hasBaseline = true
  private var runMedianS = 0.0
  private val curation = new CurationProbe(ctx)
  private var curationPassS = 0.0
  private val PassagesPerRun = 600
  private val InputFiles = 3
  private val WarmDocs = 100
  private val Chunk = 32
  @volatile private var throttled = Set.empty[String]
  private val embed = new MockEmbed(latencyMs = 25, t => throttled.contains(t))
  private val bulk = new MockBulk
  private var inputs: IndexedSeq[(File, Seq[(String, Long)])] = IndexedSeq.empty
  private var warmInput: File = _
  private var runs = 0
  private var warm = false

  def setup(spark: SparkSession, rep: Int): Unit = {
    val dir = new File(ctx.work, s"ingest_batch/setup-$rep")
    val texts = Inputs.replicas(Inputs.texts(spark, ctx.data), ctx.seed,
      PassagesPerRun * InputFiles + WarmDocs).iterator
    val base = 1767225600000L + Math.floorMod(ctx.seed, 1000L) * 86400000L
    var at = base
    inputs = (0 until InputFiles).map { f =>
      // documents in seeded order, skipping any that would overshoot the
      // passage count, so every run does the same amount of work
      val docs = mutable.ArrayBuffer.empty[(String, Long)]
      var passages = 0
      while (passages < PassagesPerRun) {
        val t = texts.next()
        val n = Inputs.passages(t, Some(Chunk)).size
        if (passages + n <= PassagesPerRun) { docs += ((t, at)); passages += n; at += 1000L }
      }
      val file = new File(dir, s"input-$f/docs.json")
      Inputs.writeAtomically(new File(dir, s"staging-$f"), file,
        docs.toSeq.map { case (t, ms) => Inputs.wireLine(t, ms) })
      (file.getParentFile, docs.toSeq.flatMap { case (t, ms) =>
        Inputs.passages(t, Some(Chunk)).map(p => (p, ms)) })
    }
    throttled = inputs.flatMap { case (_, expected) =>
      expected.map(_._1).sortBy(Json.fnv(ctx.seed, _)).take(PassagesPerRun / 50) }.toSet
    warmInput = new File(dir, "warm/docs.json")
    Inputs.writeAtomically(new File(dir, "staging-warm"), warmInput,
      texts.take(WarmDocs).map(t => Inputs.wireLine(t, base)).toSeq)
    warm = false
  }

  private def config(source: File, index: String) = PipelineConfig(Map(
    "mode" -> "batch",
    "source.path" -> source.getPath,
    "model" -> "titan-v2",
    "chunk.size" -> Chunk.toString,
    "embed.endpoint" -> embed.url,
    "sink.kind" -> "http",
    "sink.endpoint" -> bulk.url,
    "sink.index" -> index)).validated

  def measure(spark: SparkSession, seconds: Double): Result = run(spark, seconds, 0)

  /** One pipeline run and one curation pass on `local[1]`. */
  override def baseline(spark: SparkSession): Result = {
    val localN = runMedianS
    val r = run(spark, 0.0, 1)
    val c = curation.pass(spark).map(_._2).sum
    r.copy(attempted = r.attempted + curation.writeRuns(), endToEnd = Nil, layers = Seq(
      ("baseline.ingest_run_local1_s", r.unitSeconds, "s"),
      ("baseline.ingest_local1_slowdown", r.unitSeconds / localN, "ratio"),
      ("baseline.curate_pass_local1_s", c, "s"),
      ("baseline.curate_local1_slowdown", c / curationPassS, "ratio")))
  }

  private def run(spark: SparkSession, seconds: Double, minRuns: Int): Result = {
    if (!warm) {
      // one untimed run first: JIT, connection pools and codegen warm up
      RunPipeline.run(spark, config(warmInput.getParentFile, "warm-up"))
      warm = true
    }
    embed.reset(); bulk.reset()
    var timedNs = 0L
    var n = 0
    var attempted = 0L
    var failed = 0L
    var distinctTexts = 0L
    val runSeconds = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    var landed = 0L
    var bulks = 0L
    var bytes = 0L
    while (timedNs < seconds * 1e9 || n < minRuns) {
      val (source, expected) = inputs(runs % inputs.size)
      val index = s"run-$runs"
      val id = Trace.nextId("run")
      Trace.currentParent = id
      spark.sparkContext.setJobGroup(id, index)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try Trace.timed("pipeline.run", id)(RunPipeline.run(spark, config(source, index)))
      finally spark.sparkContext.clearJobGroup()
      val dt = System.nanoTime() - t0
      Trace.currentParent = "root"
      timedNs += dt
      runSeconds += dt / 1e9
      n += 1
      runs += 1
      distinctTexts += embed.distinctTexts
      embed.forget()
      val drained = bulk.drain()
      val o = SinkCheck.check(drained, _ == index, expected, id)
      attempted += o.expected
      failed += o.failed
      landed += o.landed.size
      bulks += o.bulks
      bytes += o.bytes
      o.landed.foreach(l => latencies += (l.arrivalMs - startMs).toDouble)
    }
    val requests = embed.requests.get.toDouble
    runMedianS = Stats.median(runSeconds.toSeq)
    val layers = Seq(
      ("embed.requests", requests / n, "count"),
      ("embed.useful_ratio", if (requests > 0) distinctTexts / requests else 0.0, "ratio"),
      ("embed.inflight_max", embed.inflightMax.toDouble, "count"),
      ("embed.inflight_mean", embed.heldSeconds / (timedNs / 1e9), "count"),
      ("embed.server_ms_p50", Stats.pctOrZero(embed.serverMs, 50), "ms"),
      ("embed.throttled", embed.throttled.get.toDouble / n, "count"),
      ("sink.bulks", bulks.toDouble / n, "count"),
      ("sink.docs_per_bulk", if (bulks > 0) landed.toDouble / bulks else 0.0, "count"),
      ("sink.bytes_per_doc", if (landed > 0) bytes.toDouble / landed else 0.0, "bytes"),
      ("sink.bulk_retries", bulk.retries.get.toDouble, "count"),
      ("sink.server_ms_p50", Stats.pctOrZero(bulk.serverMs, 50), "ms"))
    Result(attempted, failed, Seq(
      ("throughput_per_s", landed / (timedNs / 1e9), "docs/s"),
      ("latency_p50_ms", Stats.pct(latencies.toSeq, 50), "ms"),
      ("latency_p95_ms", Stats.pct(latencies.toSeq, 95), "ms"),
      ("latency_p99_ms", Stats.pct(latencies.toSeq, 99), "ms")),
      layers, n, timedNs, runMedianS)
  }

  /** Untraced extras: the pre-embed stages timed alone on one input (forced
    * by a `noop` write), their row counts, the mock's capacity, and the
    * curation layer (outputs written for the oracle check, a cold pass,
    * then one timed pass). */
  override def extra(spark: SparkSession): Result = {
    val (source, _) = inputs.head
    val raw = spark.read.text(source.getPath).toDF("value")
    val t0 = System.nanoTime()
    RagPipeline.preEmbed(raw, Some((Chunk, Chunk))).write.format("noop").mode("overwrite").save()
    val preEmbedS = (System.nanoTime() - t0) / 1e9
    val (inflight, _) = MockEmbed.capacityProbe(1000, 1000)
    val (_, wallMs) = MockEmbed.capacityProbe(1000, 25)
    curation.writeChecks(spark)
    val times = curation.pass(spark)
    curationPassS = times.map(_._2).sum
    Result(0, 0, Nil, times.map { case (q, t) => (s"curate.${q}_s", t, "s") } ++ Seq(
      ("curate.pass_s", curationPassS, "s"),
      ("pipeline.pre_embed_s", preEmbedS, "s"),
      ("pipeline.rows_in", raw.count().toDouble, "count"),
      ("pipeline.rows_out", RagPipeline.preEmbed(raw, Some((Chunk, Chunk))).count().toDouble, "count"),
      ("pipeline.parse_dead_letters",
        RagPipeline.deadLetters(RagPipeline.parseWire(raw)).count().toDouble, "count"),
      ("embed.mock_capacity_inflight", inflight.toDouble, "count"),
      ("embed.mock_rate_per_s", 1000 / (wallMs / 1e3), "1/s")), 1, 0L, preEmbedS)
  }

  override def release(): Unit = { inputs = IndexedSeq.empty; embed.stop(); bulk.stop() }
}

/** `ingest_stream`: `RunPipeline.run` in `mode=streaming` with a dead-letter
  * dir (so every record takes the retrying embed path), no chunking, the
  * mock embedding endpoint at 5 ms, and the mock `_bulk` sink. Open loop:
  * one generator thread drops one file of [[DocsPerFile]] documents per
  * [[PeriodMs]] ms on average, at seeded uniformly random times, each document
  * stamped with its due time in `created_at`; latency is sink arrival
  * minus due time. Before the first pass, two untimed batch runs of the
  * same stages warm the JVM, and the first [[WarmSeconds]] of the pass
  * (2 s of later passes) are not measured. After the generator stops, the
  * run waits for every document to land, then stops the query. */
final class IngestStream(ctx: Main.Ctx) extends Workload {
  val name = "ingest_stream"
  val headline = "latency_p50_ms"
  private val PeriodMs = 250L
  private val DocsPerFile = 25
  private val WarmSeconds = 8.0
  private val embed = new MockEmbed(latencyMs = 5, _ => false)
  private val bulk = new MockBulk
  private var sources: IndexedSeq[String] = IndexedSeq.empty
  private var passes = 0
  private var warmInput: File = _
  private var warm = false

  def setup(spark: SparkSession, rep: Int): Unit = {
    sources = Inputs.texts(spark, ctx.data)
    warmInput = new File(ctx.work, s"ingest_stream/setup-$rep/warm")
    Inputs.writeAtomically(new File(ctx.work, s"ingest_stream/setup-$rep/staging"),
      new File(warmInput, "docs.json"),
      Inputs.replicas(sources, -ctx.seed, 500).map(t => Inputs.wireLine(t, 1767225600000L)))
    warm = false
  }

  /** Untimed: the same stages in batch mode, so JIT and codegen are warm
    * before the first micro-batch. */
  private def warmUp(spark: SparkSession): Unit = (0 until 2).foreach { i =>
    RunPipeline.run(spark, PipelineConfig(Map(
      "mode" -> "batch",
      "source.path" -> warmInput.getPath,
      "deadletter.dir" -> new File(warmInput.getParentFile, s"deadletter-$i").getPath,
      "model" -> "titan-v2",
      "embed.endpoint" -> embed.url,
      "sink.kind" -> "http",
      "sink.endpoint" -> bulk.url,
      "sink.index" -> "warm-up")).validated)
  }

  def measure(spark: SparkSession, seconds: Double): Result = {
    if (!warm) { warmUp(spark); warm = true }
    embed.reset(); bulk.reset()
    val dir = new File(ctx.work, s"ingest_stream/pass-$passes")
    // later passes (traced runs) start on a warm JVM
    val warmS = if (passes == 0) WarmSeconds else 2.0
    passes += 1
    val src = new File(dir, "src")
    src.mkdirs()
    // Poisson arrivals with a fixed count (uniform times, sorted): a strictly
    // periodic drop phase-locks with the trigger loop, and each run then
    // settles on its own latency plateau
    val spanMs = ((warmS + seconds) * 1000).toLong
    val files = (spanMs / PeriodMs).toInt
    val arrivals = new scala.util.Random(ctx.seed + passes)
    val offsets = IndexedSeq.fill(files)((arrivals.nextDouble() * spanMs).toLong).sorted
    val texts = Inputs.replicas(sources, ctx.seed + passes, files * DocsPerFile)
    val conf = PipelineConfig(Map(
      "mode" -> "streaming",
      "source.path" -> src.getPath,
      "checkpoint.dir" -> new File(dir, "checkpoint").getPath,
      "deadletter.dir" -> new File(dir, "deadletter").getPath,
      "model" -> "titan-v2",
      "embed.endpoint" -> embed.url,
      "sink.kind" -> "http",
      "sink.endpoint" -> bulk.url,
      "sink.index" -> "stream")).validated
    val listener = if (Trace.enabled) Some(new StreamListener) else None
    listener.foreach(spark.streams.addListener)
    var pipelineError: Throwable = null
    val pipeline = new Thread(() =>
      try RunPipeline.run(spark, conf) catch { case e: Throwable => pipelineError = e },
      "perfbench-pipeline")
    pipeline.start()
    val deadline = System.nanoTime() + 60000000000L
    while (spark.streams.active.isEmpty && pipelineError == null) {
      require(System.nanoTime() < deadline, "streaming query did not start within 60 s")
      Thread.sleep(10)
    }
    // open loop: file i is due at start + offsets(i), whatever the pipeline does
    val start = System.currentTimeMillis() + 500
    val expected = mutable.ArrayBuffer.empty[(String, Long)]
    var lateMax = 0L
    (0 until files).foreach { i =>
      val due = start + offsets(i)
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      lateMax = math.max(lateMax, System.currentTimeMillis() - due)
      val docs = texts.slice(i * DocsPerFile, (i + 1) * DocsPerFile).map(t => (t, due))
      val t0 = Trace.now()
      Inputs.writeAtomically(new File(dir, s"staging-$i.json"), new File(src, f"f$i%05d.json"),
        docs.map { case (t, ms) => Inputs.wireLine(t, ms) })
      Trace.span("gen.file", t0, Trace.now(), "", parent = "root")
      expected ++= docs
    }
    val windowStart = start + (warmS * 1000).toLong
    val windowEnd = windowStart + (seconds * 1000).toLong
    val drainDeadline = System.nanoTime() + 30000000000L
    while (bulk.docs.get < expected.size && System.nanoTime() < drainDeadline &&
           pipelineError == null) Thread.sleep(20)
    spark.streams.active.foreach(_.stop())
    pipeline.join()
    listener.foreach(spark.streams.removeListener)
    if (pipelineError != null) throw pipelineError

    val o = SinkCheck.check(bulk.drain(), _ == "stream", expected.toSeq, "root")
    val deadLetters = {
      val dl = new File(dir, "deadletter")
      if (!dl.exists()) 0L else spark.read.parquet(dl.getPath).count()
    }
    val measured = o.landed.filter(l => l.dateMs >= windowStart && l.dateMs < windowEnd)
    val latencies = measured.map(l => (l.arrivalMs - l.dateMs).toDouble)
    Main.log("latency p50 by 2 s of due time: " + measured.groupBy(l => (l.dateMs - windowStart) / 2000)
      .toSeq.sortBy(_._1).map { case (k, ls) =>
        f"${k * 2}%d s: ${Stats.median(ls.map(l => (l.arrivalMs - l.dateMs).toDouble))}%.0f" }
      .mkString(", "))
    val lastArrival = if (o.landed.isEmpty) windowEnd else o.landed.map(_.arrivalMs).max
    val allBatches = listener.toSeq.flatMap { l =>
      import scala.jdk.CollectionConverters._
      l.batches.asScala.toSeq
    }
    val batches = allBatches.filter(b => b.startEpochMs >= windowStart && b.startEpochMs < windowEnd)
    def dur(keys: String*): Double =
      if (batches.isEmpty) 0.0 else Stats.median(batches.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum.toDouble))
    val passNs = (System.currentTimeMillis() - start) * 1000000L
    val requests = embed.requests.get.toDouble
    val layers = Seq(
      ("embed.requests", requests, "count"),
      ("embed.useful_ratio", if (requests > 0) embed.distinctTexts / requests else 0.0, "ratio"),
      ("embed.inflight_max", embed.inflightMax.toDouble, "count"),
      ("embed.inflight_mean", embed.heldSeconds / ((System.currentTimeMillis() - start) / 1e3), "count"),
      ("embed.server_ms_p50", Stats.pctOrZero(embed.serverMs, 50), "ms"),
      ("embed.throttled", embed.throttled.get.toDouble, "count"),
      ("sink.bulks", o.bulks.toDouble, "count"),
      ("sink.docs_per_bulk", if (o.bulks > 0) o.landed.size.toDouble / o.bulks else 0.0, "count"),
      ("sink.bytes_per_doc", if (o.landed.nonEmpty) o.bytes.toDouble / o.landed.size else 0.0, "bytes"),
      ("sink.bulk_retries", bulk.retries.get.toDouble, "count"),
      ("sink.server_ms_p50", Stats.pctOrZero(bulk.serverMs, 50), "ms"),
      ("stream.batches", batches.size.toDouble, "count"),
      ("stream.rows_per_batch_p50",
        if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.rows.toDouble)), "count"),
      ("stream.trigger_ms_p50", dur("triggerExecution"), "ms"),
      ("stream.add_batch_ms_p50", dur("addBatch"), "ms"),
      ("stream.plan_ms_p50", dur("queryPlanning"), "ms"),
      ("stream.offsets_ms_p50", dur("latestOffset", "getBatch"), "ms"),
      ("stream.commit_ms_p50", dur("walCommit", "commitOffsets"), "ms"),
      ("stream.gen_late_ms_max", lateMax.toDouble, "ms"))
    Result(o.expected + deadLetters, o.failed + deadLetters, Seq(
      ("throughput_per_s", o.landed.size / ((lastArrival - start) / 1e3), "docs/s"),
      ("latency_p50_ms", Stats.pct(latencies, 50), "ms"),
      ("latency_p95_ms", Stats.pct(latencies, 95), "ms"),
      ("latency_p99_ms", Stats.pct(latencies, 99), "ms")),
      layers, math.max(allBatches.size, 1), passNs, dur("triggerExecution") / 1e3)
  }

  /** The read side, measured apart from the traced pass. */
  override def extra(spark: SparkSession): Result = new RetrievalProbe(ctx).run(spark)

  override def release(): Unit = { sources = IndexedSeq.empty; embed.stop(); bulk.stop() }
}
