package graft.tlc

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Cli's stage machinery without a session: the concurrent writer each
  * stage hands its tables to, and the `--timings` total. */
class CliStagesSpec extends AnyFunSuite {

  test("a failed write waits for its siblings, then names the failed table") {
    val finished = ConcurrentHashMap.newKeySet[String]()
    // the siblings block until the failing write has thrown, so they are
    // still running when the failure happens
    val failed = new CountDownLatch(1)
    def sibling(name: String): (String, () => Unit) = name -> { () =>
      assert(failed.await(10, TimeUnit.SECONDS))
      Thread.sleep(200)
      finished.add(name)
    }
    val err = intercept[Cli.WriteFailed] {
      Cli.writeConcurrently(3, Seq(
        sibling("dim_zones"),
        "dim_date" -> { () =>
          failed.countDown()
          throw new IllegalStateException("disk full")
        },
        sibling("dim_time")))
    }
    assert(finished.contains("dim_zones") && finished.contains("dim_time"),
      "the stage threw before its sibling writes had finished")
    assert(err.table == "dim_date")
    assert(err.getMessage.contains("dim_date") && err.getMessage.contains("disk full"))
    assert(err.getCause.isInstanceOf[IllegalStateException])
    assert(err.getSuppressed.isEmpty)
  }

  test("every failure is reported: the first in order, the rest suppressed") {
    val err = intercept[Cli.WriteFailed] {
      Cli.writeConcurrently(4, Seq(
        "a" -> (() => ()),
        "b" -> (() => throw new RuntimeException("b broke")),
        "c" -> (() => throw new RuntimeException("c broke"))))
    }
    assert(err.table == "b")
    assert(err.getSuppressed.toSeq.map(_.asInstanceOf[Cli.WriteFailed].table) == Seq("c"))
  }

  test("writes run side by side, never on more threads than asked for") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    val done = new AtomicInteger()
    Cli.writeConcurrently(3, (1 to 9).map { i =>
      s"t$i" -> { () =>
        peak.accumulateAndGet(running.incrementAndGet(), math.max(_, _))
        Thread.sleep(100)
        running.decrementAndGet()
        done.incrementAndGet()
        ()
      }
    })
    assert(done.get == 9)
    assert(peak.get > 1 && peak.get <= 3, s"peak concurrency ${peak.get}")
    Cli.writeConcurrently(4, Seq.empty)
  }

  test("the timings total sums the stages, not the sub-timings inside them") {
    val t = new Cli.Timings
    t.record("load", 1.0)
    t.record("analytics_04_hvfhv_platform_economics", 1.5, sub = true)
    t.record("analytics_11_uber_lyft_vs_taxi_pricing", 1.25, sub = true)
    t.record("analytics", 2.0)
    t.record("finalize", 0.25)
    assert(t.total == 3.25)
    assert(t.json(7) ==
      """{"load": 1.000, "analytics_04_hvfhv_platform_economics": 1.500, """ +
      """"analytics_11_uber_lyft_vs_taxi_pricing": 1.250, "analytics": 2.000, """ +
      """"finalize": 0.250, "total": 3.250, "fact_rows": 7}""")
  }
}
