package graft.tlc

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Cli's stage machinery without a session: the concurrent writer each
  * stage hands its tables to, the `--timings` total, and the argument
  * errors `main` raises before it starts one. */
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

  test("results come back in input order when the first task finishes last") {
    val finished = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val othersDone = new CountDownLatch(2)
    def quick(name: String): (String, () => String) = name -> { () =>
      finished.add(name)
      othersDone.countDown()
      name.toUpperCase
    }
    val got = Cli.writeConcurrently(3, Seq(
      "yellow" -> { () =>
        assert(othersDone.await(10, TimeUnit.SECONDS))
        finished.add("yellow")
        "YELLOW"
      },
      quick("green"),
      quick("hvfhv")))
    assert(finished.toArray.toSeq.last == "yellow", s"finish order: $finished")
    assert(got == Seq("YELLOW", "GREEN", "HVFHV"))
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

  test("run-e2e names the default subcommand, so its options parse as options") {
    val err = intercept[IllegalArgumentException] {
      Cli.main(Array("run-e2e", "--out", "x"))
    }
    assert(err.getMessage.endsWith("missing arguments: --yellow --green --hvfhv --zones"),
      err.getMessage)
  }

  test("an unknown subcommand is named, not reported as missing options") {
    val err = intercept[IllegalArgumentException] {
      Cli.main(Array("bogus", "--out", "x"))
    }
    assert(err.getMessage == "unknown subcommand 'bogus'", err.getMessage)
  }

  private def argError(args: String*): String =
    intercept[IllegalArgumentException](Cli.main(args.toArray)).getMessage

  test("a stray word is named, not paired with the option after it") {
    assert(argError("run-analytics", "--sql", "f.sql", "extra", "--warehouse", "w")
      == "unexpected argument 'extra'")
    assert(argError("run-e2e", "--yellow", "y", "y2", "--out", "x")
      == "unexpected argument 'y2'")
  }

  test("an option with no value is named") {
    assert(argError("run-incremental", "--zones", "z", "--out") == "missing value for --out")
    assert(argError("--out", "--zones", "z") == "missing value for --out")
  }

  test("download keeps --no-skip-existing a flag and names a month that is not YYYY-MM") {
    assert(argError("download", "--start", "202412", "--end", "2025-01", "--dest", "d")
      == "--start must be YYYY-MM, got '202412'")
    assert(argError("download", "--start", "2024-12", "--no-skip-existing",
      "--end", "2025", "--dest", "d") == "--end must be YYYY-MM, got '2025'")
  }
}
