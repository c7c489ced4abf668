package graft.sinks

/** Effect-side retry semantics (reference `accesses_onefs` decorator,
  * onefs.py:566-596): transient errors retry with a fixed backoff,
  * permanent errors propagate. In this engine the *plan* is pure; a sink
  * like this is where plan rows become REST calls/side effects, one row
  * at a time in the order given, like the reference's apply loops.
  *
  * Retries are per row, so one flaky endpoint doesn't restart the whole
  * apply.
  */
object RetryingSink {

  /** Marker for retryable failures (the "Try again" classification,
    * onefs.py:584-594).
    */
  final class TransientError(message: String) extends RuntimeException(message)

  /** Apply `effect` to every row, retrying TransientError up to
    * `maxRetries` times with `backoffMs` sleeps (the reference retries
    * forever; a bound is the good-citizen version). A mutable per-row
    * state is threaded through every attempt and committed exactly once
    * after the row succeeds. The state is where the effect records what
    * it OBSERVED PERFORMING (set-only flags): an effect applied on an
    * attempt that later threw a TransientError stays recorded, so stats
    * neither double-count (commit happens once) nor undercount (a retry
    * that finds the effect already applied doesn't erase the first
    * attempt's record).
    */
  def foreachRowWithRetryStateful[R, A](
      rows: Iterable[R],
      maxRetries: Int = 5,
      backoffMs: Long = 2000L,
  )(init: () => A)(effect: (R, A) => Unit)(commit: A => Unit): Unit =
    rows.foreach { row =>
      val state = init()
      var attempt = 0
      var done = false
      while (!done) {
        try { effect(row, state); done = true }
        catch {
          case e: TransientError =>
            attempt += 1
            if (attempt > maxRetries) throw e
            Thread.sleep(backoffMs)
        }
      }
      commit(state)
    }
}
