package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** The exactly-once core on its own, with a driver-side state: no Spark
  * session is needed to pin its lock.
  */
class BatchStoreSpec extends AnyFunSuite {

  test("batch store lock: a second writer of the same batch id waits, then drops it") {
    val store = new BatchStore[Int](0, _ => Nil)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var first = false
    @volatile var second = true
    val t1 = new Thread(() => first = store(0L) { s =>
      entered.countDown()
      release.await()
      BatchStore.Step(s + 1)
    })
    t1.start()
    assert(entered.await(30, TimeUnit.SECONDS), "first writer never ran its step")
    val t2 = new Thread(() => second = store(0L)(s => BatchStore.Step(s + 1)))
    t2.start()
    // the second writer either parks on the lock or, unlocked, runs to the
    // end past a guard the first writer has not advanced yet
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (t2.isAlive && t2.getState != Thread.State.BLOCKED &&
        System.nanoTime() < deadline) Thread.sleep(1)
    release.countDown()
    t1.join(30000)
    t2.join(30000)
    assert(first, "the first writer must apply the batch")
    assert(!second, "the second writer of the same batch id must drop it")
    assert(store.state == 1 && store.lastApplied == 0L,
      s"batch applied more than once: state ${store.state}")
  }

  test("batch store: ids below zero are unguarded ad-hoc merges") {
    val store = new BatchStore[Int](0, _ => Nil)
    assert(store(-1L)(s => BatchStore.Step(s + 1)))
    assert(store(-1L)(s => BatchStore.Step(s + 1)))
    assert(store.state == 2 && store.lastApplied == -1L)
    assert(store(3L)(s => BatchStore.Step(s + 10)))
    assert(!store(3L)(s => BatchStore.Step(s + 10)))
    assert(!store(2L)(_ => fail("a guarded batch's step must not run")))
    assert(store.state == 12 && store.lastApplied == 3L)
  }
}
