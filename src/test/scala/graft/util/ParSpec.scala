package graft.util

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The bounded parallel map every driver-side fan-out goes through. */
class ParSpec extends AnyFunSuite {

  test("Par.mapBounded runs concurrently and keeps item order") {
    val t0 = System.nanoTime()
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val out = Par.mapBounded((1 to 10).toSeq, parallelism = 5) { i =>
      val cur = inFlight.incrementAndGet()
      maxSeen.accumulateAndGet(cur, math.max)
      Thread.sleep(100)
      inFlight.decrementAndGet()
      i * 2
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    assert(out == (1 to 10).map(_ * 2), "order not preserved")
    assert(maxSeen.get() > 1, "never ran concurrently")
    assert(maxSeen.get() <= 5, s"exceeded parallelism bound: ${maxSeen.get()}")
    assert(wallMs < 900, s"10x100ms at parallelism 5 took ${wallMs}ms — serial?")
  }

  test("Par.mapBounded runs inline at parallelism 1 and rethrows a failure") {
    val caller = Thread.currentThread()
    assert(Par.mapBounded(Seq(1, 2, 3), parallelism = 1)(i =>
      (i, Thread.currentThread() eq caller)) == Seq((1, true), (2, true), (3, true)))
    assert(Par.mapBounded(Seq.empty[Int])(_ + 1).isEmpty)
    val e = intercept[IllegalStateException](
      Par.mapBounded(1 to 4, parallelism = 2)(i => if (i == 3) throw new IllegalStateException("boom") else i))
    assert(e.getMessage == "boom")
  }
}
