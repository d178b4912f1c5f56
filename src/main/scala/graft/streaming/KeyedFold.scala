package graft.streaming

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one "sort the key's rows, fold `step`, emit" loop behind every
  * per-key fold in this package ([[StreamEwma]], [[StreamRateAnomaly]],
  * [[StreamDgim]]). Each fold runs as a streaming closure, a distributed
  * batch replay and a `Seq` replay, and all three call [[run]] — stream /
  * backfill parity by construction. `order` must be a total order over
  * the row VALUES, so tied rows fold identically whatever order the
  * shuffle delivered them in.
  */
private[streaming] final case class KeyedFold[R, S <: Product, O <: Product, K](key: R => String, init: S, order: R => K)(
    step: (S, R) => (S, O))(implicit ord: Ordering[K]) {

  /** Fold `step` over `rows` in `order` from `s0`: (final state, one output per row). */
  def run(rows: Seq[R], s0: S): (S, Seq[O]) = {
    var s = s0
    val out = rows.sortBy(order).map { r =>
      val (next, o) = step(s, r)
      s = next
      o
    }
    (s, out)
  }

  /** Streaming form: state carried across triggers, update-mode output. */
  def streamed(ds: Dataset[R])(implicit st: TypeTag[S], ot: TypeTag[O]): Dataset[O] =
    ds.groupByKey(key)(Encoders.STRING).flatMapGroupsWithState[S, O](OutputMode.Update(), GroupStateTimeout.NoTimeout) {
      (_: String, rows: Iterator[R], state: GroupState[S]) =>
        val (s, out) = run(rows.toSeq, state.getOption.getOrElse(init))
        state.update(s)
        out.iterator
    }(Encoders.product[S](st), Encoders.product[O](ot))

  /** Distributed batch replay: one `flatMapGroups` per key — the backfill shape. */
  def replayed(ds: Dataset[R])(implicit ot: TypeTag[O]): Dataset[O] =
    ds.groupByKey(key)(Encoders.STRING)
      .flatMapGroups((_: String, rows: Iterator[R]) => run(rows.toSeq, init)._2.iterator)(Encoders.product[O](ot))

  /** Driver-side replay for parity testing and backfill. */
  def replayedSeq(rows: Seq[R]): Seq[O] = rows.groupBy(key).toSeq.flatMap { case (_, rs) => run(rs, init)._2 }
}
