package graft

import graft.operators.WindowAggs

/** DuckDB oracle SQL for the window-aggregation / time-join operators
  * (SURVEY.md §2.3 interval+temporal joins, §2.5 group windows).
  *
  * Time arithmetic is done in integer microseconds (`epoch_us`) to match
  * Spark's `unix_micros` bit-for-bit; `CAST(ts AS TIMESTAMP)` truncates the
  * parquet nanos to micros exactly like graft.Tables does on the Spark side.
  */
object WindowOracles {

  /** Newest build row at or before each probe: the as-of join answer. */
  val asOfOracle: String =
    """SELECT p.user_id, p.event_id AS p_id, v.event_id AS v_id
        |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events
        |      WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.t <= p.t
        |ORDER BY p.user_id, p_id""".stripMargin

  /** The interval join answer, batch and streaming. */
  val intervalJoinOracle: String =
    """SELECT p.user_id, p.event_id AS p_id, v.event_id AS v_id
        |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events
        |      WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events
        |      WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.t <= p.t AND v.t >= p.t - INTERVAL 1 HOUR
        |ORDER BY p.user_id, p_id, v_id""".stripMargin

  /** Daily tumbling windows per event_type, for every tumble spelling. */
  val tumbleOracle: String =
    """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
        | count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Hopping windows per event_type, for every hop spelling. */
  val hopOracle: String =
    """WITH e AS (SELECT event_type, value,
        |  make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 43200000000) * 43200000000) AS s0
        | FROM events)
        |SELECT ws AS w_start, event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM (SELECT unnest([s0, s0 - INTERVAL 12 HOUR]) AS ws, event_type, value FROM e)
        |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin

  /** Gap sessions per user, for every session spelling. */
  val sessionOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
        |m AS (SELECT user_id, t, value,
        |  CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) <= INTERVAL 1 HOUR
        |       THEN 0 ELSE 1 END AS brk FROM e),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |       ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT min(t) AS w_start, max(t) + INTERVAL 1 HOUR AS w_end, user_id,
        | count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, w_start""".stripMargin

  /** Cumulating windows per event_type, for every cumulate spelling. */
  val cumulateOracle: String =
    """WITH e AS (SELECT event_type, value, CAST(ts AS TIMESTAMP) AS t,
        |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |kk AS (SELECT *, CAST(floor((epoch_us(t) - epoch_us(day)) / 21600000000.0) AS INT) + 1 AS k0 FROM e),
        |x AS (SELECT event_type, value, day, unnest(range(k0, 5)) AS k FROM kk)
        |SELECT day AS w_start, make_timestamp(epoch_us(day) + k * 21600000000) AS w_end,
        | event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM x GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q_win_tumble", WindowAggs.tumble,
      tumbleOracle),
    Query("q_win_hop", WindowAggs.hop,
      hopOracle),
    Query("q_win_session", WindowAggs.session,
      sessionOracle),
    Query("q_win_cumulate", WindowAggs.cumulate,
      cumulateOracle),
    Query("q_interval_join", WindowAggs.intervalJoin,
      intervalJoinOracle),
    Query("q_asof_custom", WindowAggs.asOfJoinCustom,
      asOfOracle),
    Query("q_asof_join", WindowAggs.asOfJoin,
      asOfOracle),
  )
}
