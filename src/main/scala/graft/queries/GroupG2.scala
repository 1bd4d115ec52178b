package graft.queries

import graft.Tables
import graft.operators.Graph
import graft.streaming.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Group G (streaming parity) — the `graft.streaming.Sessions`
  * operators run in BATCH mode over the events table, so the exact
  * code the streaming sink sees (the stateful
  * flatMapGroupsWithState lambdas included) flows through the
  * driver's DuckDB correctness gate like any other query. Batch
  * execution of flatMapGroupsWithState invokes each group once with
  * empty state, which for these operators is precisely "one
  * micro-batch containing the whole history":
  *
  * - g10 funnelStages / g12 sessionize: the per-user DP/merge runs
  *   over the full event history, so the emissions equal the batch
  *   g6/g1 logic (the parity the StreamingSpec micro-batch tests
  *   assert incrementally, here made hash-checkable end to end).
  * - g11 anomalyScores: the per-type trailing-window DP threads its
  *   state across the sorted window list inside ONE invocation —
  *   the full stateful loop executes, matching batch g8.
  * - g13 clickAttribution / g14 tumblingCounts: stateless column
  *   logic (interval join / event-time window); the batch plan is
  *   the same Catalyst plan the micro-batch runs.
  * - g15 validatedCounts: the stream-static validation join
  *   composed with the running per-collection counts — the
  *   micro-batch plan shape on the batch tables.
  *
  * Not registrable, and why: `windowDistinctUsers` outputs Spark's
  * HLL++ sketch estimates (engine-specific, no DuckDB replay — g5/g9
  * carry the exact and replayable sketch forms); `dedupStream` keeps
  * an arbitrary row per key (only the key set is deterministic);
  * `changeOps` is insert-only when state starts empty (its
  * fingerprint-transition logic needs two batches by definition —
  * StreamingSpec pins it with real micro-batches).
  *
  * Scale posture matches the batch twins: one shuffle on user_id for
  * g10/g12 (flatMapGroupsWithState partitions by the grouping key),
  * map-side-combinable window aggs for g11/g14, an equi-join on
  * user_id with a residual interval predicate for g13 — never a
  * time-range cross join.
  */
object GroupG2 {
  type Q = (SparkSession, String) => DataFrame

  private def events(s: SparkSession, d: String) = Tables(s, d, "events")

  /** Parent edges of GroupB's synthetic type hierarchy (k → k DIV 2). */
  private def edges(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "part")
      .filter(col("p_partkey") >= 2)
      .select(col("p_partkey").as("src"), expr("p_partkey DIV 2").as("dst"))

  /** g10's body over an arbitrary events frame — one definition
    * shared by the registered query and ScaleProbe (the
    * GroupG.funnelOf pattern: probe and query cannot drift). */
  def funnelLambdaOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    Sessions.funnelStages(
      events.select(col("user_id"), col("event_id"), col("event_type"),
          col("ts"))
        .as[graft.streaming.FunnelEvent])
      .toDF()
  }

  /** g12's body, shared like [[funnelLambdaOf]]. */
  def sessionizeLambdaOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    Sessions.sessionize(
      events.select(col("user_id"), col("event_id"), col("ts"))
        .as[graft.streaming.SessionEvent])
      .toDF()
  }

  val queries: Map[String, Q] = Map(
    // g10: the streaming funnel lambda on the full history — emits
    // (user_id, stage, es) at each first stage reach; equals g6's
    // (t_view, t_click, t_purchase) unpivoted to rows.
    "g10_stream_funnel" -> ((s, d) => funnelLambdaOf(events(s, d))),

    // g11: the streaming anomaly scorer fed the batch tumbling counts
    // — the trailing-12 z-score DP threads its state across every
    // window of a type in one invocation; equals batch g8.
    "g11_stream_anomaly" -> ((s, d) => {
      import s.implicits._
      Sessions.anomalyScores(
          GroupG.windowCountsOf(events(s, d))
            .as[graft.streaming.WindowCount])
        .toDF()
    }),

    // g12: the streaming sessionizer lambda on the full history — the
    // batch watermark is +∞ so every session finalizes; equals g1's
    // gap sessionization (minus the per-user session ordinal, which
    // only the incremental form needs).
    "g12_stream_sessionize" -> ((s, d) => sessionizeLambdaOf(events(s, d))),

    // g13: stream-stream interval join in batch — every purchase
    // paired with the same user's clicks in the 30 minutes before it.
    // Time predicates compare FULL-PRECISION timestamps (μs), so the
    // oracle joins on epoch_us; the output carries floored epoch
    // seconds only for the canonical compare.
    "g13_stream_attribution" -> ((s, d) => {
      val ev = events(s, d)
      Sessions.clickAttribution(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          col("click_ts").cast("long").as("click_es"),
          col("purchase_ts").cast("long").as("purchase_es"))
    }),

    // g14: the watermarked tumbling-count operator in batch (the
    // watermark node is eliminated on a batch child) — g2's counts
    // through the streaming operator's own code path.
    "g14_stream_tumbling" -> ((s, d) =>
      Sessions.tumblingCounts(events(s, d))),

    // g16: the DETERMINISTIC streaming dedup lambda on the full
    // history — keeps the min-(event time μs, event_id) row per
    // (user_id, event_type) key via flatMapGroupsWithState (the
    // oracle-able sibling of the spec-only dropDuplicates-based
    // dedupStream, whose kept ROW is shuffle-arbitrary); in batch
    // mode one invocation sees each key whole, so the emission equals
    // the a9 firstByKey shape on events.
    "g16_stream_dedup" -> ((s, d) => {
      import s.implicits._
      Sessions.dedupKeyedMin(
          events(s, d)
            .select(col("user_id"), col("event_id"), col("event_type"),
              col("ts"))
            .as[graft.streaming.FunnelEvent])
        .toDF()
    }),

    // g15: the streaming validation composition (stream-static join
    // through Graph.validateReachable + running per-collection
    // counts) on the batch tables — b2's semantics through the
    // streaming operator's code path, keyed by collection_id.
    "g15_stream_validated" -> ((s, d) => {
      val members = Tables(s, d, "lineitem")
        .select(col("l_orderkey").as("collection_id"),
          col("l_partkey").as("member_type"))
        .join(Tables(s, d, "orders")
                .select(col("o_orderkey"),
                  (col("o_orderkey") % 30 + 2).as("required_type")),
              col("collection_id") === col("o_orderkey"))
        .drop("o_orderkey")
      val closure = Graph.reachableTo(edges(s, d),
        Tables(s, d, "orders").select((col("o_orderkey") % 30 + 2).as("dst")))
      Sessions.validatedCounts(members, closure)
    }),
  )

  /** GroupB's recursive-closure CTE, replayed for g15. */
  private val edgeCte =
    """e AS (SELECT p_partkey AS src, p_partkey // 2 AS dst
      |       FROM part WHERE p_partkey >= 2),
      |c AS (SELECT src, dst FROM e
      |      UNION
      |      SELECT c.src, e.dst FROM c JOIN e ON c.dst = e.src)""".stripMargin

  /** The g6 running-min DP CTE chain (shared by the g10 oracle). */
  private val funnelDpCtes =
    """b AS (SELECT user_id, event_id, event_type,
      |             cast(floor(epoch(ts)) AS bigint) AS es
      |       FROM events WHERE ts IS NOT NULL),
      |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN es END) OVER
      |         (PARTITION BY user_id ORDER BY es, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_min
      |       FROM b),
      |w2 AS (SELECT *, CASE WHEN event_type = 'click' AND v_min < es
      |                 THEN es END AS c_ok FROM w1),
      |w3 AS (SELECT *, min(c_ok) OVER
      |         (PARTITION BY user_id ORDER BY es, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS c_min
      |       FROM w2),
      |w4 AS (SELECT *, CASE WHEN event_type = 'purchase' AND c_min < es
      |                 THEN es END AS p_ok FROM w3),
      |f AS (SELECT user_id,
      |        min(CASE WHEN event_type = 'view' THEN es END) AS t_view,
      |        min(c_ok) AS t_click,
      |        min(p_ok) AS t_purchase
      |      FROM w4 GROUP BY 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    // g10 = the g6 DP unpivoted: one row per reached stage with its
    // first-reach time (the streaming lambda's emission = the running
    // DP's minimum, because events process in ascending event time).
    "g10_stream_funnel" ->
      s"""WITH $funnelDpCtes
         |SELECT user_id, cast(1 AS int) AS stage, t_view AS es
         |FROM f WHERE t_view IS NOT NULL
         |UNION ALL
         |SELECT user_id, cast(2 AS int) AS stage, t_click AS es
         |FROM f WHERE t_click IS NOT NULL
         |UNION ALL
         |SELECT user_id, cast(3 AS int) AS stage, t_purchase AS es
         |FROM f WHERE t_purchase IS NOT NULL""".stripMargin,

    // g11 = g8's oracle verbatim: the streaming DP's trailing list is
    // the same trailing-12-observed-windows frame, its exact integer
    // sums the same s1/s2, the z expression the same fixed-order
    // double math and 6-dp HALF_UP round.
    "g11_stream_anomaly" ->
      """WITH c AS (SELECT cast(floor(epoch(ts) / 900) * 900 AS bigint) AS window_es,
        |             event_type, cast(count(*) AS bigint) AS n
        |           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT event_type, window_es, n,
        |        cast(count(n) OVER w AS bigint) AS n_prev,
        |        cast(sum(n) OVER w AS bigint) AS s1,
        |        cast(sum(n * n) OVER w AS bigint) AS s2
        |      FROM c
        |      WINDOW w AS (PARTITION BY event_type ORDER BY window_es
        |                   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT event_type, window_es, n, n_prev,
        |        CASE WHEN n_prev >= 8 AND
        |               (cast(s2 AS double) - cast(s1 AS double) * cast(s1 AS double)
        |                  / n_prev) / (n_prev - 1) > 0
        |             THEN round((cast(n AS double) - cast(s1 AS double) / n_prev)
        |               / sqrt((cast(s2 AS double) - cast(s1 AS double)
        |                         * cast(s1 AS double) / n_prev) / (n_prev - 1)), 6)
        |        END AS z
        |      FROM t)
        |SELECT event_type, window_es, n, n_prev, z,
        |  cast(CASE WHEN z IS NOT NULL AND abs(z) > 3 THEN 1 ELSE 0 END AS int)
        |    AS is_anomaly
        |FROM z""".stripMargin,

    // g16 = a9's keyed-min shape on events: first row per
    // (user_id, event_type) in (full-precision event time, event_id)
    // order — epoch_us for the ordering (the g13 precision
    // convention), floored seconds in the output.
    "g16_stream_dedup" ->
      """SELECT user_id, event_type, event_id, es FROM (
        |  SELECT user_id, event_type, event_id,
        |    cast(floor(epoch(ts)) AS bigint) AS es,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events WHERE ts IS NOT NULL) WHERE rn = 1""".stripMargin,

    // g12 = g1's sessions without the per-user ordinal.
    "g12_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, cast(floor(epoch(ts)) AS bigint) AS es
        |  FROM events WHERE ts IS NOT NULL),
        |m AS (
        |  SELECT *, CASE WHEN lag(es) OVER w IS NULL
        |                   OR es - lag(es) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
        |s AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
        |                              ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM m)
        |SELECT user_id, min(es) AS start_es, max(es) AS end_es,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    // g13: the interval predicate runs on epoch MICROSECONDS — the
    // timestamps' full precision, matching Spark's timestamp
    // comparison exactly; only the output columns floor to seconds.
    "g13_stream_attribution" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts AS cts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, c.click_id,
        |  cast(floor(epoch(cts)) AS bigint) AS click_es,
        |  cast(floor(epoch(pts)) AS bigint) AS purchase_es
        |FROM p JOIN c ON c.user_id = p.user_id
        |  AND epoch_us(cts) <= epoch_us(pts)
        |  AND epoch_us(cts) >= epoch_us(pts) - 1800000000""".stripMargin,

    // ts IS NOT NULL because Spark's window() drops null event times
    // itself (the g2 oracle note).
    "g14_stream_tumbling" ->
      """SELECT cast(floor(epoch(ts) / 900) * 900 AS bigint) AS window_es,
        |  event_type, count(*) AS n
        |FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // g15 = b2's oracle keyed by collection_id.
    "g15_stream_validated" ->
      s"""WITH RECURSIVE $edgeCte
         |SELECT collection_id,
         |  cast(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS bigint) AS valid_cnt,
         |  cast(sum(CASE WHEN valid THEN 0 ELSE 1 END) AS bigint) AS invalid_cnt
         |FROM (
         |  SELECT o_orderkey AS collection_id,
         |    (c.src IS NOT NULL OR l_partkey = (o_orderkey % 30 + 2)) AS valid
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  LEFT JOIN c ON c.src = l_partkey AND c.dst = (o_orderkey % 30 + 2))
         |GROUP BY 1""".stripMargin,
  )
}
