package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one per-key fold behind every sequential streaming operator —
  * the reference's per-symbol deque folded tick by tick
  * (`MovingAverageCalculator`, financial_engine.py:293-312) as one
  * managed keyed-state operator. Operators supply only the per-tick
  * step, its state and output types; the kernel owns the grouping,
  * the state-store read and write-back, and the ordering.
  *
  * Ordering contract: the state is SEQUENTIAL — within each
  * micro-batch a key's rows are sorted by `order` (stable) before the
  * fold, so a batch's arrival order never changes the answer. Across
  * micro-batches nothing is reordered: a late row from before
  * already-folded history would need retraction, so parity with a
  * batch window over the whole stream needs input fed in event-time
  * order (or fronted by a watermarked sort). The order-free twins
  * (counters, grids, survivor stores) need no such contract.
  *
  * Scale: one state value per live key, hash-partitioned across
  * executors and checkpointed in the state store.
  */
object Sequential {

  /** Folds `step` over each key's rows, carrying `S` across
    * micro-batches from `init` (a key's first batch); each step may
    * emit one output row. `ttl` drops an idle key's state after that
    * much processing time without rows, emitting nothing — the key
    * then restarts from `init`. A processing-time timeout keeps the
    * engine running no-data micro-batches so expiry can fire; `None`
    * keeps the plan and the state schema timeout-free.
    */
  def fold[K: Encoder, T, S: Encoder, O: Encoder, R: Ordering](ds: Dataset[T])(
      key: T => K, order: T => R, init: S,
      ttl: Option[java.time.Duration] = None)(
      step: (S, T) => (S, Option[O])): Dataset[O] = {
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ds.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append, timeout) {
        (_: K, rows: Iterator[T], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(init)
            val out = rows.toSeq.sortBy(order).flatMap { t =>
              val (next, o) = step(st, t)
              st = next
              o
            }
            state.update(st)
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            out.iterator
          }
      }
  }

  /** round(x, 6) with the batch expression's HALF_UP semantics. */
  private[streaming] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** round(v·100) then bigint — the batch cents projection
    * `round(price * 100).cast("bigint")`, HALF_UP. */
  private[streaming] def cents(v: Double): Long =
    BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
}
