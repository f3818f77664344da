package graft

import org.apache.spark.sql.DataFrame

/** The one loop driver of the iterative operators: it owns the loop
  * state, the round counter, the pin cadence, round-scoped pins, the
  * convergence hook and the `maxRounds` bound, so every loop keeps the
  * same pin discipline (the reference owns a batch's lifetime in one
  * place the same way, through its reference-counted batches).
  *
  * Pin discipline:
  *  - round `i` pins its new state ([[Pins.counted]]: one job materializes
  *    the pin and counts its rows) when `i % pinEvery == 0` or
  *    `i == maxRounds`; rounds in between chain into one plan (the
  *    pageRank bodies, where nothing is read twice);
  *  - `done` receives that row count on pin rounds, so a loop that
  *    converges on a count runs no count job of its own; it receives
  *    `None` on the rounds in between;
  *  - once that job has materialized the new state, the round scopes
  *    ([[Round]], a [[Pins.Scope]]) it read and the superseded state pin
  *    are released; `retain` keeps every state pin instead, for callers
  *    whose result reads them all;
  *  - the returned state and the pins its lineage reads are the caller's;
  *  - when a step or the `done` hook throws, or `maxRounds` runs out with
  *    `exhausted` set, every pin the driver holds is released first.
  *
  * `init` belongs to the driver from the call on: it is released like any
  * superseded state (a no-op when it is not a pin).
  */
private[graft] object Iterate {

  /** One round: its number (from 1), the state it starts from, and the
    * [[Pins.Scope]] of the intermediates it pins (`pin`), released once a
    * state that reads them is pinned.
    */
  final class Round private[Iterate] (val number: Int, val state: DataFrame) extends Pins.Scope

  /** A round's new state and, when the round pinned it, its row count. */
  final case class Next(state: DataFrame, rows: Option[Long])

  /** A `done` hook that is true once a pinned state has as many rows as
    * the state pinned before it (`initRows` before the first round): the
    * whole convergence test of a loop whose state only grows.
    */
  def rowsUnchanged(initRows: Long): (Next, Int) => Boolean = {
    var prev = initRows
    (next, _) => next.rows.exists { n => val same = n == prev; prev = n; same }
  }

  /** Run `step` from `init` for at most `maxRounds` rounds (none, and
    * `init` returned, when `maxRounds` ≤ 0).
    *
    * A step that returns `r.state` itself declares a fixed point: the loop
    * ends converged without pinning. Otherwise `done` sees the round's new
    * state (the pinned one and its row count on pin rounds) and its
    * number, and returning true ends the loop converged. A loop that
    * runs out of rounds without converging returns its last state, or
    * throws an `IllegalStateException` with the `exhausted` message.
    */
  def apply(init: DataFrame, maxRounds: Int, pinEvery: Int = 1, retain: Boolean = false,
      done: (Next, Int) => Boolean = (_, _) => false,
      exhausted: Option[String] = None)(step: Round => DataFrame): DataFrame = {
    require(pinEvery >= 1, s"Iterate: pinEvery $pinEvery < 1")
    val held = new Pins.Scope // state pins
    held.adopt(init)
    var pending = List.empty[Round] // rounds whose pins the unpinned state still reads
    var round: Round = null
    var state = init
    var i = 0
    var converged = false
    var ok = false
    try {
      while (!converged && i < maxRounds) {
        i += 1
        round = new Round(i, state)
        val next = step(round)
        if (next eq state) { converged = true; round.release() }
        else {
          pending ::= round
          val rows = if (i % pinEvery == 0 || i == maxRounds) {
            val pinned = Pins.counted(next)
            pending.foreach(_.release())
            pending = Nil
            if (!retain) held.release()
            state = held.adopt(pinned.df)
            Some(pinned.rows)
          } else { state = next; None }
          converged = done(Next(state, rows), i)
        }
      }
      if (!converged) exhausted.foreach(msg => throw new IllegalStateException(msg))
      ok = true
      state
    } finally {
      if (!ok) { (round :: pending).foreach(r => if (r != null) r.release()); held.release() }
    }
  }
}
