package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GenState

/** The round-20 concurrent-write primitive ([[GenState.inParallel]]):
  * semantics the state families lean on when they overlap independent
  * fenced table writes (guide §2.6) — every task runs even when one
  * fails, and the first failure is rethrown so a merge aborts exactly as
  * the sequential loop did (generation stays incomplete, redone
  * wholesale).
  */
class ParallelWritesSpec extends AnyFunSuite {

  test("runs every task (no early abandon) and returns after all complete") {
    val ran = new AtomicInteger(0)
    GenState.inParallel((1 to 8).map(_ => () => { ran.incrementAndGet(); () }))
    assert(ran.get() == 8)
  }

  test("rethrows the first failure AFTER waiting for every task") {
    val ran = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      GenState.inParallel(Seq(
        () => { ran.incrementAndGet(); () },
        () => { ran.incrementAndGet()
          throw new IllegalStateException("fence abort") },
        () => { Thread.sleep(50); ran.incrementAndGet(); () }))
    }
    assert(e.getMessage == "fence abort")
    // the slow sibling was awaited, not abandoned racing the caller's
    // next step
    assert(ran.get() == 3)
  }

  test("single-task and empty groups degrade to the sequential path") {
    val ran = new AtomicInteger(0)
    GenState.inParallel(Seq(() => { ran.incrementAndGet(); () }))
    GenState.inParallel(Seq.empty)
    assert(ran.get() == 1)
  }

  test("an interrupted caller stops waiting for a hung write after a grace period") {
    val started = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val outcome = new AtomicReference[Throwable]()
    // one write ignores interrupts until released: a stalled FS call
    val hung = () => {
      started.countDown()
      var done = false
      while (!done) try { release.await(); done = true } catch { case _: InterruptedException => }
    }
    val caller = new Thread(() =>
      try GenState.inParallel(Seq(hung, () => started.countDown()))
      catch { case t: Throwable => outcome.set(t) })
    caller.start()
    try {
      assert(started.await(30, TimeUnit.SECONDS), "the writes did not start")
      caller.interrupt()
      caller.join(TimeUnit.SECONDS.toMillis(60))
      assert(!caller.isAlive, "the interrupted caller is still waiting for the hung write")
      assert(outcome.get.isInstanceOf[InterruptedException], outcome.get)
    } finally {
      release.countDown()
      caller.join()
    }
  }

  test("spark job-group/description thread-locals reach pool threads") {
    // fencedParquet labels each write via setJobDescription; the pool
    // threads must inherit the caller's spark local properties so those
    // labels (and any job group cancellation) still apply. Pinned here
    // because it is the one JVM subtlety the overlap pattern rests on:
    // InheritableThreadLocal propagation at pool-thread creation.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val spark = SparkSpec.spark
    spark.sparkContext.setLocalProperty("graft.test.prop", "from-caller")
    try {
      GenState.inParallel((1 to 2).map(_ => () => {
        captured.add(
          String.valueOf(spark.sparkContext.getLocalProperty("graft.test.prop")))
        ()
      }))
    } finally spark.sparkContext.setLocalProperty("graft.test.prop", null)
    assert(captured.size() == 2)
    captured.forEach(v => assert(v == "from-caller"))
  }
}
