package graft.core

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** Injected wall clock (SURVEY.md §2.4 determinism decision).
  *
  * The reference stamps every ingested batch with a driver-side
  * wall-clock literal at second precision (reference
  * `shared_etls/etls/utils.py:714-717`). For the oracle harness the
  * clock must be injectable so tests and declared queries are
  * reproducible.
  */
trait Clock {
  /** `yyyy-MM-dd HH:mm:ss` in UTC — the exact literal format the
    * reference produces before casting to timestamp. */
  def nowString: String
}

object Clock {
  private val fmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Production default: system clock (reference behavior). */
  object System extends Clock {
    def nowString: String = fmt.format(Instant.now())
  }

  /** Deterministic clock for tests / declared queries. */
  final case class Fixed(at: String) extends Clock {
    def nowString: String = at
  }

  /** The fixed instant used by all declared queries (graft.queries). */
  val ForOracle: Clock = Fixed("2024-01-01 00:00:00")
}
