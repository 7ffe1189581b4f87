package graft

import graft.verify.EventsCdc
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The fixture writers' failure handling: a failed parallel write stops
  * its siblings, and a modification time that cannot be set is an error,
  * not a silent change of batch order. */
class EventsCdcSpec extends AnyFunSuite {

  test("inParallel: the first failure stops its siblings and is rethrown unwrapped") {
    val started = new CountDownLatch(3)
    val stopped = new AtomicInteger()
    val sibling: () => Unit = () => {
      started.countDown()
      try Thread.sleep(TimeUnit.MINUTES.toMillis(2))
      catch { case _: InterruptedException => stopped.incrementAndGet() }
    }
    val failing: () => Unit = () => {
      started.await()
      throw new IllegalStateException("write failed")
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](
      EventsCdc.inParallel(Seq(sibling, sibling, failing, sibling)))
    assert(e.getMessage == "write failed")
    assert(stopped.get == 3, "every sibling has stopped when the failure is rethrown")
    assert(System.nanoTime() - t0 < TimeUnit.MINUTES.toNanos(1))
  }

  test("stampMtime fails loudly when the modification time cannot be set") {
    val missing = new java.io.File(SparkTestBase.tmpDir("stamp"), "chunk-000.bin")
    val e = intercept[IllegalStateException](EventsCdc.stampMtime(missing, 0L))
    assert(e.getMessage.contains(missing.toString))
  }
}
