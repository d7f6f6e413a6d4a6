package graft.util

import org.scalatest.funsuite.AnyFunSuite

import Retry._

class RetrySpec extends AnyFunSuite {

  test("backoff formula: base*factor^(n-1), capped, jitter in [0.5,1.0]") {
    val cfg = RetryConfig(baseDelayMs = 1000, backoffFactor = 2.0, maxDelayMs = 3000, jitter = false)
    assert(delayMs(cfg, 1) == 1000)
    assert(delayMs(cfg, 2) == 2000)
    assert(delayMs(cfg, 3) == 3000) // capped (4000 → 3000)
    val rng = new scala.util.Random(7)
    val withJitter = RetryConfig(baseDelayMs = 1000, jitter = true)
    for (_ <- 1 to 50) {
      val d = delayMs(withJitter, 1, rng)
      assert(d >= 500 && d <= 1000)
    }
  }

  test("withRetry retries recoverable failures then succeeds") {
    var calls = 0
    val out = withRetry(RetryConfig(maxAttempts = 3), sleep = _ => ()) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)
  }

  test("withRetry rethrows after exhausting attempts / on unrecoverable") {
    var calls = 0
    intercept[RuntimeException] {
      withRetry(RetryConfig(maxAttempts = 2), sleep = _ => ()) {
        calls += 1; throw new RuntimeException("always")
      }
    }
    assert(calls == 2)
    calls = 0
    intercept[IllegalArgumentException] {
      withRetry(RetryConfig(maxAttempts = 5),
        isRecoverable = !_.isInstanceOf[IllegalArgumentException],
        sleep = _ => ()) {
        calls += 1; throw new IllegalArgumentException("fatal")
      }
    }
    assert(calls == 1) // no retry on unrecoverable
  }

  test("degradation ladder: reference thresholds, escalation, reset, floor") {
    // fails twice, served at level 2 (the 0-based attempt index)
    var calls = 0
    val (out, lvl) = degrading {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(calls == 3 && lvl == 2 && out == "ok")
    // every call starts at level 0
    assert(degrading("fine") == (("fine", 0)))

    // deterministic failure: 3 re-runs (levels 1-3), then the floor rethrows
    calls = 0
    intercept[RuntimeException](degrading { calls += 1; throw new RuntimeException("always") })
    assert(calls == 4)
  }
}
