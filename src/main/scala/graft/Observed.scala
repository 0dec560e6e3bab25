package graft

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Observation, Row}

/** The one wait on a `Dataset.observe` metric. Observe metrics ride an
  * action the caller pays for anyway (a write, a checkpoint, a cache
  * fill), so a count or a max costs no extra job. The result arrives
  * asynchronously, though, and can be lost under extreme driver load, so
  * each caller also names a fallback that recomputes the same value
  * from data it already holds. */
private[graft] object Observed {

  /** How long a caller waits for an observation before its fallback. */
  val Wait: FiniteDuration = 30.seconds

  /** `read` applied to `obs`'s metrics row once it arrives, or
    * `fallback` if it has not arrived within [[Wait]]. The caller's
    * own thread waits on `Observation.future`; no pool thread parks. */
  def observed[A](obs: Observation)(read: Row => A)(fallback: => A): A =
    try read(Await.result(obs.future, Wait))
    catch { case _: java.util.concurrent.TimeoutException => fallback }

  /** [[observed]] of a single long-valued metric. */
  def observedLong(obs: Observation)(fallback: => Long): Long =
    observed(obs)(r => longOr0(r.get(0)))(fallback)

  /** A long-valued aggregate, with null (empty input) read as 0. */
  def longOr0(v: Any): Long = Option(v).fold(0L)(_.asInstanceOf[Long])
}
