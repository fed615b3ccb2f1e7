package graft.cep

/** Window-grid alignment, an argument of every CEP plan
  * ([[CepQuery.planRule]], [[CepQuery.planAll]],
  * [[graft.streaming.StatefulCep.run]]).
  *
  *  - [[Alignment.Epoch]]: grids start at the epoch (Spark's `window()`
  *    semantics, a declared deviation from the reference, SURVEY §7.4).
  *  - [[Alignment.FirstEvent]]: the reference assigners' grids —
  *    tumbling windows tile from the (rule, group)'s first event
  *    (TumblingWindowAssigner.java:22-46); the sliding grid anchors at
  *    `firstEvent − w` (SlidingWindowAssigner.java:26-33), so an event
  *    belongs to every grid window covering it. Global windows have no
  *    grid and ignore alignment.
  *
  * Either way the grid is the epoch grid translated by an anchor (0 for
  * `Epoch`), and one function assigns windows on it
  * (`org.apache.spark.sql.graft.CepExprImpl.starts`). A batch plan takes
  * "first" as the group's earliest event; the stateful engine takes the
  * first event it PROCESSES for the key, and an even-earlier late event
  * lands on the same grid extended backward (the reference's backward
  * extension has a negative-modulo bug there — declared deviation,
  * SURVEY §2.4). A metric lacking the rule's measure is no event of
  * that rule, so it sets no anchor. */
sealed trait Alignment

object Alignment {
  case object Epoch extends Alignment
  case object FirstEvent extends Alignment
}
