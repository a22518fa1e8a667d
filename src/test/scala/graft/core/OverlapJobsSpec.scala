package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.scalatest.funsuite.AnyFunSuite

class OverlapJobsSpec extends AnyFunSuite {

  test("results come back in input order; the first failure propagates") {
    assert(Graft.overlapJobs((1 to 6).map(i => () => i * i)) ===
      Seq(1, 4, 9, 16, 25, 36))
    val e = intercept[IllegalStateException] {
      Graft.overlapJobs(Seq(() => 1, () => throw new IllegalStateException("boom")))
    }
    assert(e.getMessage === "boom")
  }

  test("an interrupted caller gets its interrupt back and the jobs are cancelled") {
    val never = new CountDownLatch(1) // released only at cleanup
    val started = new CountDownLatch(2)
    val interruptedJobs = new CountDownLatch(2)
    val workers = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    def blockingJob(): Int = {
      workers.add(Thread.currentThread())
      started.countDown()
      try { never.await(); 0 }
      catch { case e: InterruptedException => interruptedJobs.countDown(); throw e }
    }
    val outcome = new AtomicReference[String]("still blocked")
    val caller = new Thread(() => {
      try {
        Graft.overlapJobs(Seq(() => blockingJob(), () => blockingJob()))
        outcome.set(
          if (Thread.currentThread().isInterrupted) "returned, flag set"
          else "returned, flag lost")
      } catch {
        case _: InterruptedException =>
          outcome.set(
            if (Thread.currentThread().isInterrupted) "thrown, flag set"
            else "thrown, flag lost")
      }
    })
    try {
      caller.start()
      assert(started.await(10, TimeUnit.SECONDS), "jobs never started")
      caller.interrupt()
      caller.join(10000)
      assert(!caller.isAlive, "the interrupted caller is still waiting")
      assert(outcome.get === "thrown, flag set")
      assert(interruptedJobs.await(10, TimeUnit.SECONDS),
        "the running jobs were not cancelled")
      workers.forEach { w =>
        w.join(10000)
        assert(!w.isAlive, s"pool thread ${w.getName} outlived the call")
      }
    } finally never.countDown()
  }
}
