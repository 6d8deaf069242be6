package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every streaming query in the engine runs through `FilePipeline.drain`,
  * the one place that sets the trigger and checkpoint, starts the query
  * and waits for it. Restart semantics and per-drain attribution attach
  * there once; a query that hand-rolls its own `writeStream` escapes
  * both. This check reads the source, so regrowth fails before any
  * query runs. */
class SingleDrainSpec extends AnyFunSuite {

  private val drainFile = "graft/streaming/FilePipeline.scala"
  private val calls = Seq("writeStream", "awaitTermination", "Trigger.AvailableNow")

  test("only FilePipeline.drain starts a streaming query in src/main") {
    val sources = MainSources.code
    val drain = sources.collectFirst { case (`drainFile`, code) => code }
      .getOrElse(fail(s"$drainFile is missing"))
    assert(calls.forall(drain.contains), s"$drainFile no longer makes every call in $calls")
    val hits = for {
      (f, code) <- sources if f != drainFile
      c <- calls if code.contains(c)
    } yield s"$f: $c"
    assert(hits.isEmpty, s"streaming query started outside FilePipeline.drain: ${hits.mkString(", ")}")
  }
}
