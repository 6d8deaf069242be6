package graft

import graft.runtime.Runner
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {

  test("retry: succeeds after transient failures, rethrows when exhausted") {
    var n = 0
    val got = Runner.retry(3, backoffMs = 1) {
      n += 1; if (n < 3) sys.error("transient"); "ok"
    }
    assert(got === "ok" && n === 3)
    intercept[RuntimeException] {
      Runner.retry(2, backoffMs = 1) { sys.error("always") }
    }
  }

  test("retry: backoff cap bounds the carried delay (no Long overflow)") {
    // pre-fix the delay doubled unboundedly: after ~57 failures it went
    // negative and Thread.sleep threw IllegalArgumentException, masking
    // the stage's real exception
    val e = intercept[RuntimeException] {
      Runner.retry(60, backoffMs = 100, maxDelayMs = 1) { sys.error("always") }
    }
    assert(e.getMessage === "always")
  }

  test("cluster sizing: shuffle partitions derive from topology") {
    // The builder itself cannot be applied here — getOrCreate would
    // impose the cluster partition count on the suite's SHARED session.
    // The derivation is the contract: 3× total cores (a 1000-executor,
    // 4-core fleet plans 12,000 shuffle partitions).
    assert(GraftSession.clusterShufflePartitions(250, 4) === 3000)
    assert(GraftSession.clusterShufflePartitions(1000, 4) === 12000)
    // and the builder accepts the topology without starting anything
    GraftSession.clusterBuilder("local[4]", 250, 4)
  }
}
