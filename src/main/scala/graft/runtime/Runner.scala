package graft.runtime

import scala.annotation.tailrec
import scala.util.control.NonFatal

/** Orchestration semantics (SURVEY.md §2.9): the reference's Airflow
  * DAG behaviors re-expressed as a plain in-process runner — stages are
  * method calls on one SparkSession (O2), with bounded retries with
  * exponential backoff (O5) and a status aggregation equivalent to the
  * NONE_FAILED_MIN_ONE_SUCCESS join (O4). Branch-if-empty (O3) lives
  * with the drains: the start listing in `Flows`, the batch probe in
  * `FilePipeline`.
  */
object Runner {

  final case class StageResult(name: String, ok: Boolean, attempts: Int,
      error: Option[String] = None)

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

  /** Run named stages sequentially, each under retry; a failed stage
    * doesn't stop later stages (Airflow branches are independent), and
    * the aggregate succeeds iff no stage failed and ≥1 ran (O4). */
  def runStages(stages: Seq[(String, () => Unit)], attempts: Int = 3,
      backoffMs: Long = 100): (Boolean, Seq[StageResult]) = {
    val results = stages.map { case (name, f) =>
      var tries = 0
      try {
        retry(attempts, backoffMs) { tries += 1; f() }
        StageResult(name, ok = true, attempts = tries)
      } catch {
        case NonFatal(e) =>
          // getMessage is null for message-less exceptions (bare NPE) —
          // error.isDefined must imply a usable string
          StageResult(name, ok = false, attempts = tries,
            error = Some(Option(e.getMessage).getOrElse(e.toString)))
      }
    }
    (results.nonEmpty && results.forall(_.ok), results)
  }
}
