package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class SegmentStoreSpec extends AnyFunSuite {

  test("inParallel: an interrupted caller stops and drains its writers first") {
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(2)
    val writer: () => Unit = () => {
      running.incrementAndGet()
      started.countDown()
      try Thread.sleep(60000)
      finally {
        // cleanup that outlasts the interrupt: only a drained pool
        // waits for it
        val until = System.nanoTime() + 300000000L
        while (System.nanoTime() < until) ()
        running.decrementAndGet()
      }
      ()
    }
    val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stillRunning = new java.util.concurrent.atomic.AtomicInteger(-1)
    val caller = new Thread(() =>
      try SegmentStore.inParallel(Seq(writer, writer))
      catch {
        case e: Throwable =>
          stillRunning.set(running.get)
          thrown.set(e)
      })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join(30000)
    assert(thrown.get.isInstanceOf[InterruptedException], thrown.get)
    assert(stillRunning.get == 0,
      s"${stillRunning.get} writers still running when inParallel rethrew")
  }
}
