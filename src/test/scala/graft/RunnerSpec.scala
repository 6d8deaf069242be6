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

  test("runStages: failures isolated, aggregate = none-failed-min-one-success") {
    var log = Vector.empty[String]
    val (ok, rs) = Runner.runStages(Seq(
      "a" -> (() => log :+= "a"),
      "b" -> (() => sys.error("boom")),
      "c" -> (() => log :+= "c")), attempts = 2, backoffMs = 1)
    assert(!ok)
    assert(log === Vector("a", "c"))          // c ran despite b failing
    assert(rs.map(_.ok) === Seq(true, false, true))
    assert(rs(1).attempts === 2)
    val (ok2, _) = Runner.runStages(Seq("a" -> (() => ())))
    assert(ok2)
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

  test("runStages: message-less exception still yields a usable error string") {
    // bare NPE has getMessage == null; error.isDefined must imply a
    // non-empty string (pre-r11 code stored Some(null))
    val (ok, rs) = Runner.runStages(
      Seq("npe" -> (() => throw new NullPointerException())),
      attempts = 1, backoffMs = 1)
    assert(!ok && !rs.head.ok)
    assert(rs.head.error.exists(e => e != null && e.contains("NullPointerException")))
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
