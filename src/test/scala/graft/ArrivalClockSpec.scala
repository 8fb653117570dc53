package graft

import org.apache.spark.sql.graftshim.ArrivalClock
import org.scalatest.funsuite.AnyFunSuite

/** The trigger clock the Firehose endpoint wakes: a signal ends the wait
  * between triggers early, a signal sent before the wait is latched, and
  * an unsignalled clock waits until the target like `SystemClock`. */
class ArrivalClockSpec extends AnyFunSuite {

  private def elapsedMs(t0: Long): Long = (System.nanoTime() - t0) / 1000000

  test("waitTillTime returns early after a signal") {
    val clock = new ArrivalClock
    val waker = new Thread(() => { Thread.sleep(200); clock.signal() })
    val t0 = System.nanoTime()
    waker.start()
    clock.waitTillTime(clock.getTimeMillis() + 60000)
    waker.join()
    val ms = elapsedMs(t0)
    assert(ms >= 150 && ms < 30000, s"woke after $ms ms")
  }

  test("a signal sent before the wait is not lost, and one wait consumes it") {
    val clock = new ArrivalClock
    clock.signal()
    val t0 = System.nanoTime()
    clock.waitTillTime(clock.getTimeMillis() + 60000)
    assert(elapsedMs(t0) < 30000)
    // consumed: the next wait runs to its target
    val target = clock.getTimeMillis() + 200
    assert(clock.waitTillTime(target) >= target)
  }

  test("with no signal it waits until the target") {
    val clock = new ArrivalClock
    val target = clock.getTimeMillis() + 300
    val t0 = System.nanoTime()
    val now = clock.waitTillTime(target)
    assert(now >= target && elapsedMs(t0) >= 290, s"returned at $now for target $target")
    // a target in the past returns at once
    assert(clock.waitTillTime(0L) >= target)
  }
}
