package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.embed.{EmbeddingProvider, EmbeddingResult, EmbeddingStage, RetryPolicy,
  StubEmbeddingProvider}

/** The reference topology, rebuilt Spark-first (SURVEY §2a S1→O5):
  *
  * {{{
  * source → parse JSON (O1) → enrich +uuid (O2) → filter non-empty text (O3)
  *        → bounded-concurrency embedding (O4) → vector table (O5)
  * }}}
  *
  * Differences from the reference, all deliberate and documented:
  *  - Malformed JSON goes to a dead-letter channel instead of crashing the
  *    job (reference Jackson parse throws,
  *    `operators/map/CustomMessageMapFunction.java:21-26`).
  *  - Embedding failures would surface as task retries, not a null poison
  *    pill NPE-ing the sink (reference
  *    `…BedRockEmbeddingModelAsyncCustomMessage.java:109-117`).
  *  - `_id` is kept in the vector table; the reference drops it
  *    (`DataStreamJob.java:191` commented out) and relies on the store to
  *    mint ids, which duplicates documents on replay.
  */
object RagPipeline {

  /** O1 — parse the wire format (`{"text":…, "created_at":…}`) with a
    * PERMISSIVE corrupt-record channel. Input: a DataFrame with a string
    * `value` column (Kafka-shaped). Output columns:
    * text, created_at, _corrupt_record. */
  def parseWire(raw: DataFrame): DataFrame = {
    raw.select(
        from_json(col("value"), Schemas.wireWithCorrupt,
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"))
          .as("m"))
      .select(col("m.text"), col("m.created_at"), col("m._corrupt_record"))
  }

  /** Rows `parseWire` could not parse — the dead-letter channel. */
  def deadLetters(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))

  /** O2 — enrich with a per-record uuid-v4 `_id` (same nondeterminism as the
    * reference; content-hash dedup is the replay-safe alternative, see
    * [[graft.ops.Dedup]]). */
  def enrich(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNull)
      .select(col("text"), col("created_at"))
      .withColumn("_id", expr("uuid()"))

  /** O3 — reference semantics exactly: only the empty string is dropped
    * (`DataStreamJob.java:146` uses `isEmpty`; whitespace-only text passes).
    * Nulls (missing `text` field) are also dropped here instead of NPE-ing. */
  def filterNonEmpty(df: DataFrame): DataFrame =
    df.filter(col("text").isNotNull && col("text") =!= "")

  /** Optional O3.5 — passage chunking between the non-empty filter and the
    * embedding stage: the reference's vector schema stores PASSAGE
    * embeddings (`passage_embedding`) but its repo leaves cutting documents
    * into passages to the producer; this makes it a pipeline stage. Each
    * passage becomes its own document with `_id = <parent id>#<chunk_idx>`
    * (lineage-preserving, deterministic given the parent id) and the
    * parent's `created_at`. Token-empty documents (whitespace-only text,
    * which O3 deliberately passes) produce no passages — there is nothing
    * to embed. No shuffle: generator expansion per input partition. */
  def chunk(df: DataFrame, size: Int, stride: Int): DataFrame =
    graft.ops.TextAnalysis
      .chunkPassages(df, "text", "_id", size, stride, carry = Seq("created_at"))
      .filter(col("n_tok") > 0)
      .select(
        concat(col("_id"), lit("#"), col("chunk_idx")).as("_id"),
        col("passage").as("text"),
        col("created_at"))

  /** O4 — embedding, the Spark analogue of
    * `AsyncDataStream.unorderedWait(…, 1000)`: each task embeds its
    * partition through one window of up to `maxInFlight` outstanding calls
    * ([[EmbeddingStage.embedIteratorSafe]]). One attempt per record, no
    * dead letters: a failed record fails the task, and Spark retries it.
    * Typed Dataset in/out so Tungsten handles the row format. */
  def embed(df: DataFrame, provider: EmbeddingProvider,
            maxInFlight: Int = 1000): Dataset[EmbeddedRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    embedPartitions(df, provider, RetryPolicy(maxAttempts = 1), maxInFlight) {
      case (m, Right(r)) =>
        EmbeddedRecord(m.text, m.created_at, m._id, r.embedding, r.inputTextTokenCount)
      case (m, Left(err)) =>
        throw new IllegalStateException(s"embedding failed for _id ${m._id}: $err")
    }
  }

  /** O4 with dead letters — the same window as [[embed]], plus bounded
    * retry and per-record error capture. Output:
    * [[graft.model.EmbeddedAttempt]] rows where exactly one of
    * `embedding`/`embed_error` is non-null. Split with [[embedSuccesses]] /
    * [[embedDeadLetters]]. The reference's async operator emits a null
    * poison pill on failure and the sink NPEs
    * (`…BedRockEmbeddingModelAsyncCustomMessage.java:109-117`); here a
    * failing record costs one dead-letter row, never the job. */
  def embedSafe(df: DataFrame, provider: EmbeddingProvider,
                policy: RetryPolicy = RetryPolicy(),
                maxInFlight: Int = 1000): Dataset[EmbeddedAttempt] = {
    val spark = df.sparkSession
    import spark.implicits._
    embedPartitions(df, provider, policy, maxInFlight) {
      case (m, Right(r)) =>
        EmbeddedAttempt(m.text, m.created_at, m._id, r.embedding, r.inputTextTokenCount, null)
      case (m, Left(err)) =>
        EmbeddedAttempt(m.text, m.created_at, m._id, null, 0, err)
    }
  }

  private def embedPartitions[T: Encoder](df: DataFrame, provider: EmbeddingProvider,
      policy: RetryPolicy, maxInFlight: Int)(
      emit: (EnrichedMessage, Either[String, EmbeddingResult]) => T): Dataset[T] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("text"), col("created_at"), col("_id"))
      .as[EnrichedMessage]
      .mapPartitions { it =>
        val (texts, metas) = it.duplicate
        val results = EmbeddingStage.embedIteratorSafe(
          texts.map(_.text), provider, policy, maxInFlight)
        // a task that stops early (failure, kill, limit) leaves no call behind
        Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => results.cancel()))
        metas.zip(results).map { case (m, r) => emit(m, r) }
      }
  }

  /** Successful attempts, shaped like [[embed]]'s output. */
  def embedSuccesses(attempts: Dataset[EmbeddedAttempt]): Dataset[EmbeddedRecord] = {
    val spark = attempts.sparkSession
    import spark.implicits._
    attempts.filter(_.embed_error == null)
      .map(a => EmbeddedRecord(a.text, a.created_at, a._id, a.embedding,
        a.inputTextTokenCount))
  }

  /** Failed attempts → the embedding dead-letter channel:
    * `(_id, text, embed_error)`. */
  def embedDeadLetters(attempts: Dataset[EmbeddedAttempt]): DataFrame =
    attempts.filter(col("embed_error").isNotNull)
      .select(col("_id"), col("text"), col("embed_error"))

  /** O5 — shape into the sink document (FIXTURES A4): `passage_embedding`,
    * `date` (parsed ISO-8601), `text`, plus kept `_id`. */
  def toVectorDocs(embedded: Dataset[EmbeddedRecord]): DataFrame =
    embedded.select(
      col("embedding").as("passage_embedding"),
      to_timestamp(col("created_at"), "yyyy-MM-dd'T'HH:mm:ss.SSSX").as("date"),
      col("text"),
      col("_id"))

  /** Full batch topology from a raw `value: string` DataFrame;
    * `chunking = Some((size, stride))` inserts the O3.5 passage stage. */
  def batch(raw: DataFrame, provider: EmbeddingProvider = StubEmbeddingProvider(),
            chunking: Option[(Int, Int)] = None): DataFrame =
    batchStages(raw, provider, chunking)

  /** Streaming topology: JSON-lines file source → same stages →
    * `foreachBatch` parquet vector-table sink (micro-batch is Spark's native
    * analogue of the reference's 1 ms bulk flush), idempotent per batch id
    * so checkpoint replay cannot duplicate documents (the reference's
    * at-least-once sink does, `DataStreamJob.java:191`). Read the result
    * with [[graft.sink.VectorTable.readBatched]]. Caller owns
    * `query.awaitTermination`/`processAllAvailable`. */
  def streaming(
      spark: SparkSession,
      sourceDir: String,
      outDir: String,
      checkpointDir: String,
      provider: EmbeddingProvider = StubEmbeddingProvider()) =
    streamingTo(spark, sourceDir, graft.sink.ParquetVectorSink(outDir),
      checkpointDir, provider)

  /** [[streaming]] against any [[graft.sink.VectorSink]] — the pluggable-O5
    * seam: the topology is identical whether documents land in the parquet
    * table, driver memory, or an OpenSearch-shaped connector. */
  def streamingTo(
      spark: SparkSession,
      sourceDir: String,
      sink: graft.sink.VectorSink,
      checkpointDir: String,
      provider: EmbeddingProvider = StubEmbeddingProvider(),
      chunking: Option[(Int, Int)] = None,
      maxInFlight: Int = 1000) = {
    val raw = spark.readStream.schema(Schemas.wire).option("mode", "PERMISSIVE")
      .json(sourceDir)
      .select(to_json(struct(col("text"), col("created_at"))).as("value"))
    val docs = batchStages(raw, provider, chunking, maxInFlight)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        sink.appendIdempotent(batchDf, batchId)
      }
      .start()
  }

  /** O1→O3(.5): parse, enrich, filter, optional chunk — the shared
    * pre-embed stage sequence every topology (batch, streaming file,
    * streaming Kafka, config runner) goes through. */
  def preEmbed(raw: DataFrame, chunking: Option[(Int, Int)] = None): DataFrame = {
    val filtered = filterNonEmpty(enrich(parseWire(raw)))
    chunking match {
      case Some((size, stride)) => chunk(filtered, size, stride)
      case None => filtered
    }
  }

  private def batchStages(raw: DataFrame, provider: EmbeddingProvider,
                          chunking: Option[(Int, Int)] = None,
                          maxInFlight: Int = 1000): DataFrame =
    toVectorDocs(embed(preEmbed(raw, chunking), provider, maxInFlight))

  /** [[streaming]] with the dead-letter-capturing embed stage: per micro
    * batch, successes land in the idempotent vector table and embed
    * failures in `deadLetterDir/batch=<id>` (same overwrite idempotence).
    * The attempts Dataset is cached for the two writes so each document is
    * embedded exactly once per batch. */
  def streamingSafe(
      spark: SparkSession,
      sourceDir: String,
      outDir: String,
      deadLetterDir: String,
      checkpointDir: String,
      provider: EmbeddingProvider = StubEmbeddingProvider(),
      policy: RetryPolicy = RetryPolicy()) =
    streamingSafeTo(spark, sourceDir, graft.sink.ParquetVectorSink(outDir),
      deadLetterDir, checkpointDir, provider, policy)

  /** [[streamingSafe]] against any [[graft.sink.VectorSink]]. */
  def streamingSafeTo(
      spark: SparkSession,
      sourceDir: String,
      sink: graft.sink.VectorSink,
      deadLetterDir: String,
      checkpointDir: String,
      provider: EmbeddingProvider = StubEmbeddingProvider(),
      policy: RetryPolicy = RetryPolicy(),
      chunking: Option[(Int, Int)] = None,
      maxInFlight: Int = 1000) = {
    val raw = spark.readStream.schema(Schemas.wire).option("mode", "PERMISSIVE")
      .json(sourceDir)
      .select(to_json(struct(col("text"), col("created_at"))).as("value"))
    val enriched = preEmbed(raw, chunking)
    enriched.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        val attempts = embedSafe(batchDf, provider, policy, maxInFlight).cache()
        try {
          sink.appendIdempotent(toVectorDocs(embedSuccesses(attempts)), batchId)
          embedDeadLetters(attempts)
            .write.mode("overwrite").parquet(s"$deadLetterDir/batch=$batchId")
        } finally attempts.unpersist()
      }
      .start()
  }

  // ------------------------------------------------------------ Kafka source

  /** Options for the Structured Streaming Kafka reader — the reference's MSK
    * ingress (`…/DataStreamJob.java:127-136`: bootstrap servers + topic +
    * earliest offsets; SASL/IAM properties :118-122 pass through verbatim).
    * Pure builder, unit-testable without a broker. */
  def kafkaOptions(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      extra: Map[String, String] = Map.empty): Map[String, String] = {
    require(bootstrapServers.nonEmpty, "bootstrapServers must be non-empty")
    require(topic.nonEmpty, "topic must be non-empty")
    // user-supplied security/tuning options must not silently override the
    // three structural keys
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets)
    extra.filterNot { case (k, _) => base.contains(k) } ++ base
  }

  /** S1/S2 — Kafka source stream, reduced to the same `value: string` wire
    * shape every downstream stage consumes ([[parseWire]] onward). The
    * `kafka.` -prefixed entries in `extra` (e.g.
    * `kafka.security.protocol=SASL_SSL`, SASL JAAS/IAM settings) pass
    * through to the consumer exactly as the reference forwards its MSK
    * properties. Needs the spark-sql-kafka connector on the classpath at
    * start; construction itself is lazy. */
  def streamingKafkaSource(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      extra: Map[String, String] = Map.empty): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaOptions(bootstrapServers, topic, startingOffsets, extra))
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** Full streaming topology from Kafka: same stages as [[streaming]], with
    * the idempotent per-batch vector-table sink (exactly-once effect under
    * at-least-once replay — the duplicate-on-replay bug the reference ships,
    * `DataStreamJob.java:191`). */
  def streamingKafka(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      outDir: String,
      checkpointDir: String,
      startingOffsets: String = "earliest",
      extra: Map[String, String] = Map.empty,
      provider: EmbeddingProvider = StubEmbeddingProvider(),
      chunking: Option[(Int, Int)] = None,
      maxInFlight: Int = 1000) = {
    val sink = graft.sink.ParquetVectorSink(outDir)
    val raw = streamingKafkaSource(spark, bootstrapServers, topic, startingOffsets, extra)
    batchStages(raw, provider, chunking, maxInFlight).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        sink.appendIdempotent(batchDf, batchId)
      }
      .start()
  }
}
