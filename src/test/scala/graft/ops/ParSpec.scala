package graft.ops

import java.util.concurrent.{CancellationException, ConcurrentHashMap}

import org.scalatest.funsuite.AnyFunSuite

/** `Par.run` failure semantics: the first failure rethrows its original
  * cause, and no thunk still queued behind the pool starts after it. */
class ParSpec extends AnyFunSuite {

  test("a failing first leg stops every queued thunk from starting") {
    val started = ConcurrentHashMap.newKeySet[Int]()
    // 8 legs on a 4-thread pool: legs 0-3 start at once, 4-7 queue.
    // Leg 0 fails immediately, so its pool thread is the first one free
    // to dequeue leg 4 — which must not run
    val thunks: Seq[() => Int] = (0 until 8).map { i => () =>
      started.add(i)
      if (i == 0) throw new IllegalStateException("leg 0 failed")
      Thread.sleep(300)
      i
    }
    val e = intercept[IllegalStateException](Par.run(thunks))
    assert(e.getMessage == "leg 0 failed")
    assert((4 until 8).forall(i => !started.contains(i)),
      s"queued legs started after the failure: $started")
    assert(e.getSuppressed.exists(_.isInstanceOf[CancellationException]))
  }

  test("without a failure every leg runs and results keep input order") {
    assert(Par.run((0 until 8).map(i => () => i * i)) == (0 until 8).map(i => i * i))
  }
}
