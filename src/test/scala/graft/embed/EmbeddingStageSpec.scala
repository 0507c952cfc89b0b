package graft.embed

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import scala.concurrent.duration._

object EmbeddingStageSpec {
  /** A blocking provider: texts starting with "hang" block until `release`
    * opens, then embed. With `honourInterrupts` an interrupt ends the call;
    * without it the call counts the interrupt and keeps waiting. */
  final class HangingProvider(release: CountDownLatch, honourInterrupts: Boolean)
      extends EmbeddingProvider {
    private val stub = StubEmbeddingProvider("titan-v2")
    val interrupts = new AtomicInteger()
    override val dim: Int = stub.dim
    override def embed(text: String): EmbeddingResult = {
      var waiting = text.startsWith("hang")
      while (waiting) {
        try { release.await(); waiting = false }
        catch {
          case ie: InterruptedException =>
            interrupts.incrementAndGet()
            if (honourInterrupts) throw ie
        }
      }
      stub.embed(text)
    }
  }

  def wallMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e6)
  }
}

/** The window's contract for blocking providers, which run on the shared
  * per-JVM pool through the default [[EmbeddingProvider.embedAsync]]. */
class EmbeddingStageSpec extends AnyFunSuite {
  import EmbeddingStageSpec._

  test("an interruptible sync call that times out is interrupted and frees its slot") {
    val release = new CountDownLatch(1)
    val p = new HangingProvider(release, honourInterrupts = true)
    try {
      val (out, ms) = wallMs(EmbeddingStage.embedIteratorSafe(
        Iterator("hang a", "good one", "good two"), p, RetryPolicy(maxAttempts = 1),
        // one slot: the good records run only if the hung call gives it back
        maxInFlight = 1, timeout = 300.millis).toVector)
      assert(out(0).left.exists(_.contains("embed timed out")))
      assert(out(1).isRight && out(2).isRight)
      assert(p.interrupts.get() === 1)
      assert(ms < 3000, s"took $ms ms")
    } finally release.countDown()
  }

  test("sync calls that ignore interrupts fill the window: one dead letter each, then fail fast") {
    val release = new CountDownLatch(1)
    val p = new HangingProvider(release, honourInterrupts = false)
    try {
      val texts = Seq("hang a", "hang b") ++ (1 to 30).map(i => s"good $i")
      val (out, ms) = wallMs(EmbeddingStage.embedIteratorSafe(
        texts.iterator, p, RetryPolicy(maxAttempts = 1),
        maxInFlight = 2, timeout = 300.millis).toVector)
      assert(out.size === texts.size && out.forall(_.isLeft))
      assert(out.take(2).forall(_.left.exists(_.contains("embed timed out"))))
      assert(out.drop(2).forall(_.left.exists(_.contains("embed window exhausted"))))
      // a budget per record would take 32 × 300 ms; failing fast takes ~3
      assert(ms < 4000, s"took $ms ms")
      eventually(timeout(Span(5, Seconds)))(assert(p.interrupts.get() === 2))
    } finally release.countDown()
  }

  test("sync calls that ignore interrupts stick the pool: later calls fail fast, the pool recovers") {
    val release = new CountDownLatch(1)
    val p = new HangingProvider(release, honourInterrupts = false)
    val policy = RetryPolicy(maxAttempts = 2, initialBackoffMs = 10)
    try {
      // one hung call per pool thread; the good records queue behind them
      val texts = (1 to EmbeddingStage.poolSize).map(i => s"hang $i") ++
        (1 to 20).map(i => s"good $i")
      val out = EmbeddingStage.embedIteratorSafe(
        texts.iterator, p, policy, timeout = 1.second).toVector
      assert(out.size === texts.size && out.forall(_.left.exists(_.contains("embed timed out"))))
      eventually(timeout(Span(5, Seconds)))(
        assert(p.interrupts.get() === EmbeddingStage.poolSize))

      // every pool thread is held: new calls are refused at once instead of
      // queueing for a budget (2 × 1 s + 10 ms) each
      val (later, ms) = wallMs(EmbeddingStage.embedIteratorSafe(
        (1 to 50).map(i => s"later $i").iterator, p, policy, timeout = 1.second).toVector)
      assert(later.forall(_.left.exists(e =>
        e.contains("embedding pool exhausted") && e.contains("after 2 attempts"))))
      assert(ms < 1000, s"took $ms ms")
    } finally release.countDown()

    // the hung calls return once released, and the pool takes calls again
    eventually(timeout(Span(10, Seconds)))(assert(EmbeddingStage.embedIteratorSafe(
      Iterator("good again"), p, RetryPolicy(maxAttempts = 1)).next().isRight))
  }
}
