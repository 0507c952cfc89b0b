package graft.embed

import java.security.MessageDigest
import java.util.concurrent.{CompletableFuture, CompletionException, ExecutionException,
  Executors, RejectedExecutionException, Semaphore, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** Pluggable embedding backend — the Spark-side contract of the reference's
  * async Bedrock operator (reference
  * `operators/asyncIO/BedRockEmbeddingModelAsyncCustomMessage.java:26-118`).
  *
  * Model-id resolution and dimensions follow the reference exactly:
  * `titan-v1` → `amazon.titan-embed-text-v1` (1536 dims), `titan-v2` →
  * `amazon.titan-embed-text-v2:0` (1024 dims) (reference
  * `…BedRockEmbeddingModelAsyncCustomMessage.java:80-85`,
  * `index-creation-function/lambda_function.py:58-61`).
  */
trait EmbeddingProvider extends Serializable {
  def dim: Int
  /** Embed one text. Called from executor threads; must be thread-safe. */
  def embed(text: String): EmbeddingResult

  /** Embed one text without blocking the caller. The default runs [[embed]]
    * on [[EmbeddingStage]]'s bounded per-JVM pool, and `cancel(true)`
    * interrupts a running call. A provider with a non-blocking client
    * overrides this so that no thread waits while the model answers. */
  def embedAsync(text: String): CompletableFuture[EmbeddingResult] =
    EmbeddingStage.onPool(() => embed(text))
}

final case class EmbeddingResult(embedding: Array[Float], inputTextTokenCount: Int)

/** Bounded exponential-backoff retry for external providers. A remote
  * embedding API fails transiently as a matter of course; without an
  * explicit policy every failure becomes either a whole-task retry (re-runs
  * the partition's successful calls too) or, as in the reference, a null
  * poison pill crashing the sink. */
final case class RetryPolicy(
    maxAttempts: Int = 3,
    initialBackoffMs: Long = 100,
    backoffMultiplier: Double = 2.0) {
  require(maxAttempts >= 1, "maxAttempts must be >= 1")
}

object EmbeddingModels {
  /** Reference model alias → (full model id, dimension). */
  val registry: Map[String, (String, Int)] = Map(
    "titan-v1" -> ("amazon.titan-embed-text-v1", 1536),
    "titan-v2" -> ("amazon.titan-embed-text-v2:0", 1024))

  def dimOf(alias: String): Int =
    registry.getOrElse(alias,
      throw new IllegalArgumentException(s"unknown embedding model: $alias"))._2
}

/** Deterministic stand-in for the Bedrock call (FIXTURES.md A3 contract):
  * `embedding[i] = f(seed=42, sha2(text), i)` as floats in [-0.25, 0.25),
  * `inputTextTokenCount = size(split(text, '\\s+'))`. Identical text →
  * identical vector on every executor/run, which is what makes the pipeline
  * testable without network egress.
  */
final case class StubEmbeddingProvider(modelAlias: String = "titan-v1", seed: Long = 42L)
    extends EmbeddingProvider {
  override val dim: Int = EmbeddingModels.dimOf(modelAlias)

  override def embed(text: String): EmbeddingResult = {
    val sha = MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Fold the digest into a 64-bit base state, then splitmix per dimension.
    var base = seed
    var i = 0
    while (i < sha.length) { base = base * 0x100000001b3L + (sha(i) & 0xffL); i += 1 }
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) {
      val h = graft.functions.TextHashing.splitmix64(base + i)
      // top 24 bits → uniform [0,1) → shift to [-0.25, 0.25)
      out(i) = (((h >>> 40).toDouble / (1 << 24).toDouble) * 0.5 - 0.25).toFloat
      i += 1
    }
    val tokens = text.trim.split("\\s+").count(_.nonEmpty)
    EmbeddingResult(out, tokens)
  }
}

/** Bounded-concurrency embedding — Spark's analogue of Flink's
  * `AsyncDataStream.unorderedWait(…, capacity = 1000)` (reference
  * `DataStreamJob.java:148-154`).
  *
  * Each task embeds its partition through one sliding window of
  * [[EmbeddingProvider.embedAsync]] calls: up to `maxInFlight` calls are
  * outstanding per task, as Flink's capacity is per subtask. Results come
  * out in input order, and the window refills as its head completes. A
  * provider with a non-blocking client (the HTTP one) holds no thread while
  * its calls wait; a blocking provider runs on a shared per-JVM pool of
  * `min(2 × cores, 64)` threads. Partitions complete unordered relative to
  * each other — the same unorderedness the reference opts into.
  */
object EmbeddingStage {
  private[embed] val poolSize = math.min(Runtime.getRuntime.availableProcessors() * 2, 64)
  private lazy val pool = Executors.newFixedThreadPool(poolSize, r => {
    val t = new Thread(r, "graft-embed"); t.setDaemon(true); t
  })
  // Cancelled calls still running on a pool thread. When they hold every
  // thread, the provider ignores interrupts and the pool is stuck.
  private val abandoned = new AtomicInteger()

  private final val Queued = 0
  private final val Running = 1
  private final val Interrupting = 2
  private final val Finished = 3

  /** A blocking call on the pool, as a future. `cancel` drops a queued call.
    * A running call is interrupted, and its future completes only when the
    * call returns: a caller that counts outstanding calls keeps counting one
    * that ignores the interrupt. */
  private final class PoolCall[T](call: () => T) extends CompletableFuture[T] with Runnable {
    private val state = new AtomicInteger(Queued)
    @volatile private var runner: Thread = _

    override def run(): Unit = {
      runner = Thread.currentThread()
      if (state.compareAndSet(Queued, Running)) {
        try complete(call())
        catch { case t: Throwable => completeExceptionally(t) }
        finally if (!state.compareAndSet(Running, Finished)) {
          // cancelled while running: take the interrupt here, so that it
          // cannot reach the next call this pool thread runs
          while (state.get == Interrupting) Thread.onSpinWait()
          Thread.interrupted()
          abandoned.decrementAndGet()
        }
      }
    }

    override def cancel(mayInterruptIfRunning: Boolean): Boolean =
      if (state.compareAndSet(Queued, Finished)) super.cancel(false)
      else {
        if (state.compareAndSet(Running, Interrupting)) {
          abandoned.incrementAndGet()
          runner.interrupt()
          state.set(Finished)
        }
        false
      }
  }

  private[embed] def onPool[T](call: () => T): CompletableFuture[T] =
    if (abandoned.get >= poolSize)
      CompletableFuture.failedFuture(new RejectedExecutionException(
        s"embedding pool exhausted: all $poolSize threads held by timed-out calls " +
          "that ignore interrupts"))
    else {
      val c = new PoolCall(call)
      pool.execute(c)
      c
    }

  /** Worst-case wall-clock of one record: every attempt may take up to
    * `perAttempt`, plus the full backoff series. */
  private[embed] def retryBudget(perAttempt: Duration, policy: RetryPolicy): Duration = {
    var backoffTotal = 0L
    var b = policy.initialBackoffMs
    var i = 1
    while (i < policy.maxAttempts) {
      backoffTotal += b
      b = (b * policy.backoffMultiplier).toLong
      i += 1
    }
    perAttempt * policy.maxAttempts.toLong + backoffTotal.millis
  }

  /** Embeds `texts` through one window of up to `maxInFlight` outstanding
    * calls, with per-record retry and error capture. The output is an Either
    * per input, in input order.
    *
    * Each record is retried under `policy`: a `NonFatal` failure waits out
    * its backoff on a timer (no thread sleeps) and is sent again; the last
    * failure becomes a Left — the record routes to the dead-letter channel
    * and the task, with its successful calls, survives. A fatal error (a VM
    * error such as OutOfMemoryError) kills the task instead, so Spark retries
    * it on a healthy executor rather than dead-lettering a good document.
    * An interrupt of the consuming thread (task kill) cancels the window and
    * propagates.
    *
    * A record has `retryBudget(timeout, policy)` from its admission to the
    * window; a record unresolved past it becomes a Left and its call is
    * cancelled. A call that honours the cancellation (an HTTP call, any
    * interruptible read) frees its slot at once. One that ignores it keeps
    * its slot: when every slot is held that way, later records fail fast
    * into the dead-letter channel instead of deadlocking the task, until a
    * slot comes back. */
  def embedIteratorSafe(
      texts: Iterator[String],
      provider: EmbeddingProvider,
      policy: RetryPolicy = RetryPolicy(),
      maxInFlight: Int = 1000,
      timeout: Duration = 15000.millis): EmbedWindow =
    new EmbedWindow(texts, provider, policy, maxInFlight, timeout)

  final class EmbedWindow private[EmbeddingStage] (
      texts: Iterator[String],
      provider: EmbeddingProvider,
      policy: RetryPolicy,
      maxInFlight: Int,
      timeout: Duration) extends Iterator[Either[String, EmbeddingResult]] {
    require(maxInFlight >= 1, s"maxInFlight must be >= 1: $maxInFlight")
    private val budget = retryBudget(timeout, policy)
    // one permit per outstanding call, released when the call returns
    private val slots = new Semaphore(maxInFlight)
    // admitted records not yet emitted, in input order
    private val window = new java.util.ArrayDeque[Record](math.min(maxInFlight, 1024))
    // after one slot wait runs out, later records probe with zero wait (fail
    // FAST, not one full budget each); a slot coming back resumes
    private var exhausted = false

    override def hasNext: Boolean = !window.isEmpty || texts.hasNext

    override def next(): Either[String, EmbeddingResult] = {
      if (!hasNext) throw new NoSuchElementException("next on empty embed window")
      try {
        if (window.isEmpty) {
          // every slot held here belongs to a call of an emitted record
          val got =
            if (exhausted) slots.tryAcquire()
            else slots.tryAcquire(budget.toMillis, TimeUnit.MILLISECONDS)
          exhausted = !got
          if (!got) {
            texts.next()
            return Left(s"embed window exhausted: all $maxInFlight slots held beyond " +
              s"$budget by calls that ignore cancellation")
          }
          window.add(new Record(texts.next()))
        }
        while (window.size < maxInFlight && texts.hasNext && slots.tryAcquire())
          window.add(new Record(texts.next()))
        val head = window.poll()
        try head.result.get(math.max(head.deadline - System.nanoTime(), 0L), TimeUnit.NANOSECONDS)
        catch {
          case _: TimeoutException =>
            head.cancel()
            Left(s"embed timed out after $budget (incl. ${policy.maxAttempts} attempts)")
          case e: ExecutionException =>
            cancel()
            throw e.getCause
        }
      } catch {
        case ie: InterruptedException =>
          cancel()
          throw ie
      }
    }

    /** Cancels every record not yet emitted. Call it when the consumer
      * stops early, so that no call or retry outlives the task. */
    def cancel(): Unit = {
      window.forEach(_.cancel())
      window.clear()
    }

    /** One admitted record: holds its slot from admission until its last
      * attempt returns. */
    private final class Record(text: String) {
      val deadline: Long = System.nanoTime() + budget.toNanos
      val result = new CompletableFuture[Either[String, EmbeddingResult]]()
      @volatile private var attempt: CompletableFuture[EmbeddingResult] = _
      @volatile private var cancelled = false

      send(1, policy.initialBackoffMs)

      private def send(n: Int, backoffMs: Long): Unit = {
        val f =
          try provider.embedAsync(text)
          catch { case t: Throwable => CompletableFuture.failedFuture[EmbeddingResult](t) }
        attempt = f
        if (cancelled) f.cancel(true)
        f.whenComplete { (r, err) =>
          val e = unwrap(err)
          if (e != null && NonFatal(e) && !cancelled && n < policy.maxAttempts)
            CompletableFuture.delayedExecutor(backoffMs, TimeUnit.MILLISECONDS).execute { () =>
              if (cancelled) slots.release()
              else send(n + 1, (backoffMs * policy.backoffMultiplier).toLong)
            }
          else {
            if (e == null) result.complete(Right(r))
            else if (NonFatal(e)) result.complete(Left(
              s"${e.getClass.getName}: ${String.valueOf(e.getMessage)} (after $n attempts)"))
            else result.completeExceptionally(e)
            slots.release()
          }
        }
      }

      def cancel(): Unit = {
        cancelled = true
        val f = attempt
        if (f != null) f.cancel(true)
      }
    }
  }

  private def unwrap(t: Throwable): Throwable = t match {
    case c: CompletionException if c.getCause != null => unwrap(c.getCause)
    case other => other
  }
}
