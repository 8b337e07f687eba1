package graft.core

import org.apache.spark.sql.SparkSession
import scala.util.DynamicVariable

/** The engine's plan-choice gates. Every choice of physical path made
  * from a size, a count or a plan shape (broadcast vs shuffled, kernel
  * vs legacy, driver vs distributed, repartition vs keep) is one call
  * here, which returns the outcome and records a [[Gate.Decision]] into
  * the current [[Gate.capture]] scope. This is the only place a
  * `graft.*` session conf is parsed.
  *
  * Outside a capture recording does nothing and the by-name inputs are
  * never evaluated, so a rendered plan costs nothing on a serving path.
  * The scope is per thread, and gates run where a query is constructed,
  * on the caller's thread: two queries captured on two threads never see
  * each other's decisions. The log is a per-query record of (plan
  * choice, inputs, outcome) — what a slow or wrong run needs to explain
  * itself, and the training data of a learned hint chooser (COOOL,
  * VLDB 2023). */
object Gate {

  /** Gate `name` took its path (`outcome`) given `inputs`; `limit` is
    * the threshold it compared against and `key` the `graft.*` conf
    * that steers it ("" when none does). */
  final case class Decision(name: String, key: String, limit: Long,
                            inputs: Seq[(String, Any)], outcome: Boolean) {
    /** One line: each input value is cut to its first line (a plan
      * string would fill the screen). */
    override def toString: String =
      (s"$name=$outcome limit=$limit" +: (if (key.isEmpty) Nil else Seq(s"key=$key")) ++:
        inputs.map { case (k, v) =>
          s"$k=${String.valueOf(v).linesIterator.nextOption().getOrElse("").take(80)}"
        }).mkString(" ")
  }

  /** A capture's log, closed when the capture ends. A thread started
    * inside a capture inherits it (DynamicVariable is inheritable) and
    * may outlive it, but a closed scope drops records and holds
    * nothing. */
  private final class Scope {
    private[this] var log: List[Decision] = Nil
    private[this] var open = true
    def add(d: => Decision): Unit = synchronized { if (open) log ::= d }
    def close(): Seq[Decision] = synchronized {
      open = false
      val out = log.reverse
      log = Nil
      out
    }
  }

  private val current = new DynamicVariable[Scope](null)

  /** `body`'s result and the decisions recorded on this thread while it
    * ran, in order. Captures nest; a decision goes to the innermost. */
  def capture[T](body: => T): (T, Seq[Decision]) = {
    val scope = new Scope
    try {
      val out = current.withValue(scope)(body)
      (out, scope.close())
    } finally scope.close()
  }

  /** Record a decision and return its outcome. */
  def record(name: String, key: String, limit: Long,
             inputs: => Seq[(String, Any)])(outcome: Boolean): Boolean = {
    Option(current.value).foreach(_.add(Decision(name, key, limit, inputs, outcome)))
    outcome
  }

  /** The size gate: `value <= limit`, the limit read from `key`
    * (`default` when unset). */
  def atMost(s: SparkSession, name: String, key: String, default: Long,
             value: Long, inputs: => Seq[(String, Any)] = Nil): Boolean = {
    val lim = limit(s, key, default)
    record(name, key, lim, ("value" -> value) +: inputs)(value <= lim)
  }

  /** A limit's conf value, for a gate whose measurement is itself
    * bounded by the limit (see [[fetchBound]]). */
  def limit(s: SparkSession, key: String, default: Long): Long =
    s.conf.getOption(key).map(_.trim.toLong).getOrElse(default)

  /** A boolean switch, false when unset. */
  def flag(s: SparkSession, key: String): Boolean =
    s.conf.getOption(key).exists(_.trim.toBoolean)

  /** Rows to fetch to learn whether a row count exceeds `limit`:
    * limit + 1, saturating into [0, Int.MaxValue] (a plain + 1 at
    * Long.MaxValue wraps negative and fetches nothing). */
  def fetchBound(limit: Long): Int =
    math.max(0L, math.min(limit, Int.MaxValue - 1L) + 1).toInt
}
