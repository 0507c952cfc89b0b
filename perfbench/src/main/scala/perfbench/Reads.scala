package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Knn, Retrieval}

/** The read side of RAG, timed in `ingest_stream`'s traced runs: one
  * closed-loop client issuing seeded questions against the vector table of
  * the sf0.1 documents, built by `RagPipeline` with the stub provider and
  * the parquet sink. In every block of four requests three are dense
  * (`Knn.topK`, k = 10) and one is hybrid (dense plus `Retrieval.bm25TopK`,
  * fused by `Retrieval.rrfFuse`). It is not a workload of its own because
  * its three corpus builds per run do not fit the benchmark's time budget
  * next to the two ingest workloads.
  *
  * Each answer is checked against a brute-force reference the benchmark
  * computes itself: cosine top-k, and BM25 and RRF recomputed from the
  * formulas documented in `Retrieval`. Reordering is allowed only among
  * scores equal within 1e-6. */
final class RetrievalProbe(ctx: Main.Ctx) {
  private val K = 10
  private val Tol = 1e-6
  private val Requests = 16
  private val stub = graft.embed.StubEmbeddingProvider("titan-v2")

  /** Builds the corpus, warms up on one request of each kind, then runs
    * [[Requests]] timed requests and checks every answer. */
  def run(spark: SparkSession): Result = {
    val dir = new File(ctx.work, "retrieve/vectors").getPath
    import spark.implicits._
    val texts = Inputs.texts(spark, ctx.data).zipWithIndex.map { case (t, i) =>
      Inputs.rotate(t, Math.floorMod(Json.fnv(ctx.seed, i.toString), 5L).toInt) }
    val raw = texts.map(t => Inputs.wireLine(t, 1767225600000L)).toDF("value")
    val sink = graft.sink.ParquetVectorSink(dir)
    sink.bootstrap()
    val b0 = System.nanoTime()
    sink.append(graft.pipeline.RagPipeline.batch(raw, stub))
    val buildS = (System.nanoTime() - b0) / 1e9
    val corpus = graft.sink.VectorTable.read(spark, dir)
    val ref = new Reference(corpus.select("_id", "text", "passage_embedding").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2).toArray)))
    // one request through the engine's public retrieval functions: the
    // answer and the query-embedding time, ns
    def request(hybrid: Boolean, question: String, id: String): (Answer, Long) = {
      spark.sparkContext.setJobGroup(id, question)
      try {
        val e0 = System.nanoTime()
        val qv = stub.embed(question).embedding
        val embedNs = System.nanoTime() - e0
        val dense = Knn.topK(corpus, "passage_embedding", "_id", qv, K).select("_id", "score")
        val out = if (!hybrid) dense else Retrieval.rrfFuse(Seq(
            Retrieval.ranked(dense, "_id", "score"),
            Retrieval.ranked(Retrieval.bm25TopK(corpus, "text", "_id", ref.terms(question), K),
              "_id", "bm25")),
          "_id", K).select("_id", "rrf")
        (Answer(hybrid, question, qv, out.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq),
          embedNs)
      } finally spark.sparkContext.clearJobGroup()
    }
    val warmRng = new scala.util.Random(-ctx.seed)
    Seq(false, true).foreach(h => request(h, ref.question(warmRng), "warm-up"))

    val rng = new scala.util.Random(ctx.seed)
    val answers = mutable.ArrayBuffer.empty[Answer]
    val denseMs, hybridMs, embedMs = mutable.ArrayBuffer.empty[Double]
    var thrown = 0
    (0 until Requests / 4).foreach { _ =>
      val hybridSlot = rng.nextInt(4)
      (0 until 4).foreach { i =>
        val hybrid = i == hybridSlot
        val s = System.nanoTime()
        try {
          val (a, embedNs) = request(hybrid, ref.question(rng), Trace.nextId("req"))
          (if (hybrid) hybridMs else denseMs) += (System.nanoTime() - s) / 1e6
          embedMs += embedNs / 1e6
          answers += a
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"request failed: $e")
            thrown += 1
        }
      }
    }
    val wrong = answers.count(a => !ref.check(a.hybrid, a.question, a.qv, a.rows, K, Tol))
    Result(Requests.toLong, (wrong + thrown).toLong, Nil, Seq(
      ("retrieve.corpus_build_s", buildS, "s"),
      ("retrieve.dense_ms_p50", Stats.median(denseMs.toSeq), "ms"),
      ("retrieve.hybrid_ms_p50", Stats.median(hybridMs.toSeq), "ms"),
      ("retrieve.query_embed_ms_p50", Stats.median(embedMs.toSeq), "ms")),
      Requests, 0L, 0.0)
  }
}

final case class Answer(hybrid: Boolean, question: String, qv: Array[Float],
                        rows: Seq[(String, Double)])

/** The benchmark's own brute-force answers over the collected corpus. */
final class Reference(docs: Array[(String, String, Array[Float])]) {
  private val ids = docs.map(_._1)
  private val vecs = docs.map(_._3)
  private val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
  // BM25 tokenization: lower-cased, whitespace-split, empty tokens dropped
  private val toks: Array[Array[String]] = docs.map(d => tokens(d._2))
  private val avgdl = toks.map(_.length.toDouble).sum / toks.length

  def tokens(text: String): Array[String] =
    if (text == null) Array.empty
    else text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  /** 2 to 5 consecutive tokens of a random document. */
  def question(rng: scala.util.Random): String = {
    val t = toks(rng.nextInt(toks.length))
    val len = math.min(t.length, 2 + rng.nextInt(4))
    val start = rng.nextInt(t.length - len + 1)
    t.slice(start, start + len).mkString(" ")
  }

  def terms(question: String): Seq[String] = tokens(question).distinct.toSeq

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def topBy(scores: Array[Double], keep: Int => Boolean, k: Int): Seq[(String, Double)] =
    scores.indices.filter(keep).sortWith { (a, b) =>
      if (scores(a) != scores(b)) scores(a) > scores(b) else ids(a) < ids(b)
    }.take(k).map(i => (ids(i), scores(i)))

  private def cosine(qv: Array[Float]): Array[Double] = {
    val qn = math.sqrt(qv.map(x => x.toDouble * x).sum)
    vecs.indices.map { j =>
      val v = vecs(j)
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i).toDouble * qv(i); i += 1 }
      dot / (norms(j) * qn)
    }.toArray
  }

  private def bm25(terms: Seq[String]): (Array[Double], Array[Int]) = {
    val k1 = 1.2
    val b = 0.75
    val n = toks.length.toDouble
    val scores = new Array[Double](toks.length)
    val matched = new Array[Int](toks.length)
    terms.foreach { t =>
      val df = toks.count(_.contains(t)).toDouble
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      toks.indices.foreach { j =>
        val tf = toks(j).count(_ == t).toDouble
        if (tf > 0) matched(j) += 1
        scores(j) += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * toks(j).length / avgdl))
      }
    }
    (scores.map(round6), matched)
  }

  /** Whether `rows` is a correct top-k answer: the same length, distinct
    * ids, and at every rank a score within `tol` of the reference's score at
    * that rank, carried by a document whose reference score is within `tol`
    * of it. */
  def check(hybrid: Boolean, question: String, qv: Array[Float], rows: Seq[(String, Double)],
            k: Int, tol: Double): Boolean = {
    val cos = cosine(qv)
    val (scores, want) =
      if (!hybrid) (cos, topBy(cos, _ => true, k))
      else {
        val (bm, matched) = bm25(terms(question))
        val lists = Seq(topBy(cos, _ => true, k), topBy(bm, matched(_) > 0, k))
        val rrf = mutable.HashMap.empty[String, Double]
        lists.foreach(_.zipWithIndex.foreach { case ((id, _), r) =>
          rrf(id) = rrf.getOrElse(id, 0.0) + 1.0 / (60.0 + (r + 1)) })
        val fused = rrf.toSeq.map { case (id, s) => (id, round6(s)) }
          .sortWith((a, b) => if (a._2 != b._2) a._2 > b._2 else a._1 < b._1).take(k)
        val byId = rrf.map { case (id, s) => id -> round6(s) }
        (ids.map(id => byId.getOrElse(id, Double.NaN)), fused)
      }
    val index = ids.zipWithIndex.toMap
    rows.size == want.size && rows.map(_._1).distinct.size == rows.size &&
      rows.zip(want).forall { case ((id, s), (_, ws)) =>
        math.abs(s - ws) <= tol && index.get(id).exists(j => math.abs(scores(j) - s) <= tol)
      }
  }
}

/** The curation layer (`SparkEntry` queries over `ops.Dedup`,
  * `ops.CorpusStats` and the pinned seams), timed in `ingest_batch`'s
  * traced runs. It is not a workload of its own: one cold pass over even
  * these two queries takes about 25 s on 4 cores, the suggested eight about
  * 54 s warm, which no run of the benchmark's budget can repeat.
  *
  * The first pass writes each query's output as parquet, with its
  * `oracleSql`, for the DuckDB comparison `run.py` makes after the JVM
  * exits; later passes are forced by a `noop` write. */
final class CurationProbe(ctx: Main.Ctx) {
  private val sf = new File(ctx.work, "curate/sf")
  private val check = new File(ctx.work, "curate/check")
  private val runs = mutable.LinkedHashMap.empty[String, Int]

  private def run(spark: SparkSession, q: String)(write: DataFrame => Unit): Double = {
    if (!sf.exists()) {
      sf.mkdirs()
      Files.copy(new File(ctx.data, "documents.parquet").toPath,
        new File(sf, "documents.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    val id = Trace.nextId("query")
    spark.sparkContext.setJobGroup(id, q)
    val t0 = System.nanoTime()
    try Trace.timed(s"query.$q", id)(write(graft.SparkEntry.queries(q)(spark, sf.getPath)))
    finally spark.sparkContext.clearJobGroup()
    runs(q) = runs.getOrElse(q, 0) + 1
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass in seeded order; each query's wall seconds. */
  def pass(spark: SparkSession): Seq[(String, Double)] =
    new scala.util.Random(ctx.seed).shuffle(CurationProbe.Queries).map { q =>
      q -> run(spark, q)(_.write.format("noop").mode("overwrite").save())
    }

  /** Writes every query's output, its oracle SQL and the run counts. */
  def writeChecks(spark: SparkSession): Unit = {
    CurationProbe.Queries.foreach { q =>
      run(spark, q)(_.write.mode("overwrite").parquet(new File(check, q).getPath))
    }
    val oracle = CurationProbe.Queries.map(q =>
      s"${Json.quote(q)}:${Json.quote(graft.SparkEntry.oracleSql(q))}")
    Files.write(new File(check, "oracle_sql.json").toPath,
      oracle.mkString("{", ",", "}").getBytes("UTF-8"))
  }

  def writeRuns(): Int = {
    val counts = runs.map { case (q, n) => s"${Json.quote(q)}:$n" }.mkString("{", ",", "}")
    Files.write(new File(check, "runs.json").toPath, counts.getBytes("UTF-8"))
    runs.values.sum
  }
}

object CurationProbe {
  val Queries: Seq[String] = Seq("q_dedup_eval", "q_ingest_bm25")
}
