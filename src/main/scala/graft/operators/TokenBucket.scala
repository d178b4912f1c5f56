package graft.operators

import org.apache.spark.sql.Dataset

/** Token-bucket admission replay — the crawl-politeness / rate-limit
  * simulator: given per-(key, tick) arrival counts, replay the classic
  * bucket (capacity C, refill r per tick) and report how many requests
  * each tick admits vs sheds. Running this over an access log is how a
  * 100 TB crawl plans per-host budgets before hammering anyone.
  *
  * Scale story: a keyed fold — state is TWO integers per key
  * (token count, last tick), one `flatMapGroups` after a (key, tick)
  * partial agg; keys are sharded (e.g. host#week) so no group outgrows
  * its horizon. The fold is PURE integer arithmetic, so the
  * recursive-CTE oracle replays it exactly with no float ladder at all.
  */
object TokenBucket {

  case class Tick(key: String, t: Long, n: Long)

  case class Admitted(key: String, t: Long, n: Long,
                      admitted: Long, rejected: Long, tokensAfter: Long)

  /** Ticks must be unique per (key, t) — they come out of a groupBy —
    * so the in-group sort is a total order. The bucket starts FULL.
    */
  def admitDs(ticks: Dataset[Tick], capacity: Long,
              refillPerTick: Long): Dataset[Admitted] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.key).flatMapGroups {
      (key: String, rows: Iterator[Tick]) =>
        var tokens = capacity
        var lastT = -1L
        var first = true
        rows.toSeq.sortBy(_.t).map { tk =>
          val dt = if (first) 0L else tk.t - lastT
          tokens = math.min(capacity, tokens + dt * refillPerTick)
          val adm = math.min(tk.n, tokens)
          tokens -= adm
          lastT = tk.t
          first = false
          Admitted(key, tk.t, tk.n, adm, tk.n - adm, tokens)
        }.iterator
    }
  }
}
