package graft.runtime

import scala.annotation.tailrec
import scala.util.control.NonFatal

/** Orchestration semantics (SURVEY.md §2.9): the reference's Airflow
  * DAG behaviors re-expressed in-process — stages are method calls on
  * one SparkSession (O2), each retried with bounded exponential backoff
  * (O5). Branch-if-empty (O3) lives with the drains: the start listing
  * in `Flows`, the batch probe in `FilePipeline`. The DAG's
  * NONE_FAILED_MIN_ONE_SUCCESS join (O4) has no counterpart: each flow
  * returns its own `Flows.FlowReport`.
  */
object Runner {

  /** O5: run `f` with up to `attempts` tries, sleeping
    * `backoffMs * 2^(try-1)` between failures (capped by `maxDelayMs`,
    * reference dags/Dag2.py:32-34). */
  def retry[T](attempts: Int, backoffMs: Long = 100,
      maxDelayMs: Long = 30000)(f: => T): T = {
    @tailrec def loop(n: Int, delay: Long): T = {
      val r = try Right(f) catch {
        case NonFatal(e) if n < attempts => Left(e)
      }
      r match {
        case Right(v) => v
        case Left(_) =>
          Thread.sleep(math.min(delay, maxDelayMs))
          // cap BEFORE doubling: unbounded doubling overflows Long after
          // ~57 failures (and delay*2 itself overflows for huge
          // backoffMs/maxDelayMs) — sleep(negative) would then throw,
          // masking the stage's real exception
          loop(n + 1,
            if (delay >= maxDelayMs / 2) maxDelayMs else delay * 2)
      }
    }
    loop(1, backoffMs)
  }
}
