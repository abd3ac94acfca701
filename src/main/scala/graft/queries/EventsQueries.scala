package graft.queries

import graft.events._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Events-store queries (SURVEY §2: S10 search, F11 text, F12 range+ns,
 * A16 group/fetchLast, A17 downsample, W6 top-1, T1 paging) over the
 * driver's `events` table via [[graft.events.EventsModel.docs]], each
 * with an independent DuckDB oracle.
 */
object EventsQueries {
  import OracleCommon.{Start, End}

  type Q = (SparkSession, String) => DataFrame

  /** One day-partitioned store per source dir per JVM: the document view
   *  is written through [[EventsStore.append]] (partitionBy("day") — the
   *  reference's daily-index layout) and queries read it back, so every
   *  events query below exercises real partition pruning, not just the
   *  in-memory column. */
  private val store = Build("events_store") { (s, d) =>
    val tmp = java.nio.file.Files.createTempDirectory("graft_evstore").toString
    EventsStore.append(EventsModel.docs(s, d), tmp)
    tmp
  }

  private def docs(s: SparkSession, d: String): DataFrame = EventsStore.log(s, store(s, d))

  /** True streamed sessionization per source dir per JVM: events flow
   *  through [[OracleCommon.replay]] into the watermarked session_window
   *  aggregate; 3-day sentinel gaps push the watermark past every real
   *  session's window end so all sessions finalize. The sentinel key
   *  Long.MinValue is unambiguous against real user ids (non-negative
   *  by the generator contract, and MinValue can't collide regardless). */
  private val streamedSessions = Build("events_sessions", driverHeavy = true) { (s, d) =>
    import s.implicits._
    val ev0 = graft.sources.TsdbViews.table(s, d, "events")
    val rows = ev0.select(col("user_id"),
        graft.sources.TsdbViews.toEpochSeconds(ev0, "ts").as("ts"), col("value"))
      .as[(Long, Long, Double)]
    OracleCommon.replay("events_sessions", s, d, rows, (_: (Long, Long, Double))._2,
      (Long.MinValue, _, 0.0), gapSec = 3 * 86400, keyCol = "key") { in =>
      val src = in.toDF("user_id", "ts", "value")
        .select(col("user_id"), col("ts"),
          when(isnan(col("value")), lit(null).cast("double"))
            .otherwise(col("value")).as("value"))
      graft.operators.Sessions.sessionizeStream(src, col("user_id"),
        col("ts"), col("value"), 86400L, "30 minutes")
    }
  }

  val defs: Map[String, Q] = Map(
    // S10+F11+F12: text search with namespace + time-range clause
    "q_events_search" -> { (s, d) =>
      EventsEngine.search(docs(s, d),
        EventsQuery(Start, End, text = Some("by user 1*"), namespace = Some("error")))
        .select("event_id", "namespace", "source", "title", "start_ts", "end_ts", "ongoing")
    },

    // the SAME search as plain ANSI SQL over the facade's graft_events
    // view (round 12 — the q_sql_ds_sum discipline for the events
    // side): day-index selection, the start/end/ongoing range clause,
    // and the multi-term multi-field text match all stated as SQL
    // text; shares q_events_search's oracle verbatim, so any SQL
    // phrasing that diverges from EventsEngine's predicate by one
    // event fails the hash.
    "q_sql_events_search" -> { (s, d) =>
      graft.Graft.registerViews(s, d)
      val fields = EventsModel.SearchFields
      def term(re: String) =
        fields.map(f => s"lower($f) RLIKE '$re'").mkString("(", " OR ", ")")
      s.sql(
        s"""SELECT event_id, namespace, source, title, start_ts, end_ts, ongoing
           |FROM graft_events
           |WHERE day >= date_format(to_timestamp(${Start - EventsEngine.MaxEventSpanSec}),
           |                         'yyyy-MM-dd')
           |  AND day <= date_format(to_timestamp(${End - 1}), 'yyyy-MM-dd')
           |  AND ((start_ts >= $Start AND start_ts < $End)
           |       OR (end_ts >= $Start AND end_ts < $End) OR ongoing)
           |  AND namespace = 'error'
           |  AND ${term("by")} AND ${term("user")} AND ${term("1.*")}""".stripMargin)
    },

    // the SAME search arriving as a client events-query JSON document
    // (TsdbJson.parseEventsQuery); shares q_events_search's oracle
    "q_json_events_search" -> { (s, d) =>
      val q = graft.query.TsdbJson.parseEventsQuery(
        s"""{"start": $Start, "end": $End,
             "query": "by user 1*", "namespace": "error"}""")
      EventsEngine.search(docs(s, d), q)
        .select("event_id", "namespace", "source", "title", "start_ts", "end_ts", "ongoing")
    },

    // F12 alone: range + namespace, including end-in-range / ongoing matches
    "q_events_range_ns" -> { (s, d) =>
      EventsEngine.search(docs(s, d), EventsQuery(Start, End, namespace = Some("purchase")))
        .select("event_id", "start_ts", "end_ts", "ongoing", "priority")
    },

    // T1: sort newest-first + from/size paging
    "q_events_paging" -> { (s, d) =>
      EventsEngine.page(docs(s, d), EventsQuery(Start, End, namespace = Some("click")),
        from = 25, size = 50)
        .select("event_id", "start_ts", "title")
    },

    // A16: group-by dimension with hit counts
    "q_events_group" -> { (s, d) =>
      EventsEngine.group(docs(s, d), EventsQuery(Start, End), "host", fetchLast = false)
    },

    // A16 with fetchLast: hit count + latest event per group
    "q_events_group_last" -> { (s, d) =>
      EventsEngine.group(docs(s, d), EventsQuery(Start, End, text = Some("click")),
        "colo", fetchLast = true)
    },

    // A17: per-minute downsample of matching events
    "q_events_downsample" -> { (s, d) =>
      EventsEngine.downsample(docs(s, d), EventsQuery(Start, End, namespace = Some("view")))
    },

    // structured-attribute analytics: the numeric payload field "k"
    // extracted from the message JSON inline with the search filter —
    // per (namespace, day): hits, field coverage, exact integer sum/max
    "q_events_attr_stats" -> ((s, d) =>
      EventsEngine.attributeStats(docs(s, d), EventsQuery(Start, End), "k")),

    // Event-time sessionization over raw user activity: sessions split
    // on more than 1 day of silence (1214 sessions / 150 users at
    // sf0.01 — both multi-event sessions and splits are exercised).
    // Spark's session_window merge (inclusive at exactly last+gap —
    // spec-pinned) is restated in the oracle as gaps-and-islands:
    // break when ts - prev > gap, cumulative-sum session ids.
    "q_events_sessions" -> { (s, d) =>
      val ev = graft.sources.TsdbViews.table(s, d, "events")
      val e2 = ev.select(col("user_id"),
        graft.sources.TsdbViews.toEpochSeconds(ev, "ts").as("ts"),
        when(isnan(col("value")), lit(null).cast("double"))
          .otherwise(col("value")).as("value"))
      graft.operators.Sessions.sessionize(e2, col("user_id"), col("ts"), col("value"), 86400L)
        .withColumnRenamed("key", "user_id")
    },

    // Event-type transition matrix (round 11 — the behavioral sibling
    // of sessions/funnel/retention): for each ordered (prev, next)
    // pair, how often next immediately follows prev within one user's
    // (ts, event_id)-ordered stream, with P(next | prev). The funnel
    // tests ONE path; this surfaces all of them.
    "q_events_transitions" -> { (s, d) =>
      val ev = graft.sources.TsdbViews.table(s, d, "events")
      graft.operators.Transitions.matrix(ev,
        col("user_id"), col("event_type"),
        graft.sources.TsdbViews.toEpochSeconds(ev, "ts"), col("event_id"))
        .orderBy(col("prev_type"), col("next_type"))
    },

    // the HEAD-RESTRICTED transition matrix (round 12 — the cardinality
    // guard for high-cardinality type domains): the top-3 types by
    // count keep their labels, the other two collapse to `__other`
    // BEFORE the lag chain, so the matrix is (3+1)² bounded whatever
    // the domain. 3 < |event types| = 5 here, so the __other bucket is
    // structurally exercised and the oracle must replay the identical
    // (count desc, type asc) head cut and PRE-chain remap — a cap
    // applied after pairing (the wrong order) changes counts and fails
    // the hash.
    "q_events_transitions_capped" -> { (s, d) =>
      val ev = graft.sources.TsdbViews.table(s, d, "events")
      graft.operators.Transitions.matrix(ev,
        col("user_id"), col("event_type"),
        graft.sources.TsdbViews.toEpochSeconds(ev, "ts"), col("event_id"),
        maxTypes = Some(3))
        .orderBy(col("prev_type"), col("next_type"))
    },

    // Cohort retention: users cohorted by first-event epoch-day; each
    // (cohort_day, day_k) cell counts distinct users active exactly k
    // days later (k=0 is the cohort size).
    "q_events_retention" -> { (s, d) =>
      val ev = graft.sources.TsdbViews.table(s, d, "events")
      graft.operators.Retention.cohorts(
        ev.select(col("user_id"), graft.sources.TsdbViews.toEpochSeconds(ev, "ts").as("ts")),
        col("user_id"), col("ts"))
    },

    // The SAME sessionization as a true watermarked stream: sessions
    // finalize when the watermark passes their window end; finalized
    // rows are bit-identical to the batch run, so the oracle is shared
    // verbatim with q_events_sessions.
    "q_stream_sessions" -> ((s, d) =>
      streamedSessions(s, d).withColumnRenamed("key", "user_id")),

    // Ordered conversion funnel view → click → purchase: earliest view,
    // earliest click at-or-after it, earliest purchase at-or-after that;
    // NULL steps record drop-off, depth counts completed steps in order.
    "q_events_funnel" -> { (s, d) =>
      val ev = graft.sources.TsdbViews.table(s, d, "events")
      val e2 = ev.select(col("user_id"), col("event_type"),
        graft.sources.TsdbViews.toEpochSeconds(ev, "ts").as("ts"))
      graft.operators.Funnel.conversion(e2, col("user_id"), col("event_type"),
          col("ts"), Seq("view", "click", "purchase"))
        .select(col("key").as("user_id"), col("step0_ts").as("view_ts"),
          col("step1_ts").as("click_ts"), col("step2_ts").as("purchase_ts"),
          col("depth"))
    },

    // Time-constrained funnel: each step must land within 48h of the
    // previous completed step — a later conversion outside the window
    // breaks the chain exactly like a missing one.
    "q_events_funnel_window" -> { (s, d) =>
      val ev = graft.sources.TsdbViews.table(s, d, "events")
      val e2 = ev.select(col("user_id"), col("event_type"),
        graft.sources.TsdbViews.toEpochSeconds(ev, "ts").as("ts"))
      graft.operators.Funnel.conversion(e2, col("user_id"), col("event_type"),
          col("ts"), Seq("view", "click", "purchase"), maxGapSec = Some(172800L))
        .select(col("key").as("user_id"), col("step0_ts").as("view_ts"),
          col("step1_ts").as("click_ts"), col("step2_ts").as("purchase_ts"),
          col("depth"))
    },

    // W6: top-1 (latest) event per group value
    "q_events_top1" -> { (s, d) =>
      EventsEngine.topOnePerGroup(docs(s, d), EventsQuery(Start, End, namespace = Some("error")), "user")
        .select(col("dimensions")("user").as("user"),
          col("event_id"), col("title"), col("start_ts"))
    },

    // A16 via the JSON front end: groupBy arrives in the request document
    // (QueryRunner.java:174-268) and dispatches through EventsEngine.run;
    // shares q_events_group's oracle verbatim
    "q_json_events_group" -> { (s, d) =>
      val r = graft.query.TsdbJson.parseEventsRequest(
        s"""{"start": $Start, "end": $End, "groupBy": "host"}""")
      EventsEngine.run(docs(s, d), r)
    },

    // A16 + fetchLast via JSON; shares q_events_group_last's oracle
    "q_json_events_group_last" -> { (s, d) =>
      val r = graft.query.TsdbJson.parseEventsRequest(
        s"""{"start": $Start, "end": $End, "query": "click",
             "groupBy": "colo", "fetchLast": true}""")
      EventsEngine.run(docs(s, d), r)
    },

    // T1 via JSON: from/size paging fields (QueryRunner.java:99-143);
    // shares q_events_paging's oracle
    "q_json_events_paging" -> { (s, d) =>
      val r = graft.query.TsdbJson.parseEventsRequest(
        s"""{"start": $Start, "end": $End, "namespace": "click",
             "from": 25, "size": 50}""")
      EventsEngine.run(docs(s, d), r).select("event_id", "start_ts", "title")
    },

    // A17 via JSON: the downsample flag (QueryRunner.java:169-172);
    // shares q_events_downsample's oracle
    "q_json_events_downsample" -> { (s, d) =>
      val r = graft.query.TsdbJson.parseEventsRequest(
        s"""{"start": $Start, "end": $End, "namespace": "view", "downsample": true}""")
      EventsEngine.run(docs(s, d), r)
    },

    // F12 + dimension conjunct: search constrained by a dimension value
    "q_events_dims" -> { (s, d) =>
      EventsEngine.search(docs(s, d),
        EventsQuery(Start, End, namespace = Some("click"), dims = Map("host" -> "web01")))
        .select("event_id", "start_ts", "priority")
    },

    // R7 parent/child read path: children link by parent id and the
    // parent row carries the aggregated child list (the reference's
    // updateParent writes childIds into the parent doc —
    // LuceneWriter.java updateParent; the left join is the declarative
    // equivalent). Links synthesized deterministically: each decade's
    // 0th event parents the other nine.
    "q_events_children" -> { (s, d) =>
      val base = docs(s, d)
        .withColumn("doc_id", col("event_id"))
        .withColumn("parent_id",
          when(col("event_id") % 10 =!= 0, col("event_id") - col("event_id") % 10))
      EventsStore.withChildren(base)
        .filter(col("n_children") > 0)
        .select(col("event_id"), col("n_children"),
          concat_ws(",", transform(col("child_ids"), _.cast("string"))).as("child_ids"))
    },

    // S9+R7: upsert — every 13th event is re-indexed (closed, extended,
    // doubled value); the store's current view must keep only v2 for
    // those and v1 for the rest (reference LuceneWriter update semantics)
    "q_events_upsert" -> { (s, d) =>
      val base = docs(s, d)
        .withColumn("doc_id", col("event_id")) // upsert key for this table
        .withColumn("version", lit(1L))
      val updates = base.filter(col("event_id") % 13 === 0)
        .withColumn("version", lit(2L))
        .withColumn("ongoing", lit(false))
        .withColumn("end_ts", col("end_ts") + 600)
        .withColumn("value", col("value") * 2)
      EventsStore.current(base.unionByName(updates))
        .select(col("event_id"), col("version"), col("start_ts"), col("end_ts"),
          col("ongoing"), round(col("value"), 4).as("value"))
    }
  )

  // ------------------------------------------------------------- oracles

  /** The document-model view as DuckDB CTEs — restates
   *  [[EventsModel.docs]] independently. */
  private val docsCte: String =
    """docs AS (
      |  SELECT event_id,
      |         event_type AS namespace,
      |         'src' || CAST(user_id % 4 AS VARCHAR) AS source,
      |         event_type || ' by user ' || CAST(user_id AS VARCHAR) AS title,
      |         props AS message,
      |         CASE WHEN user_id % 3 = 0 THEN 'low'
      |              WHEN user_id % 3 = 1 THEN 'med' ELSE 'high' END AS priority,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS start_ts,
      |         CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 7) * 600 AS end_ts,
      |         event_id % 11 = 0 AS ongoing,
      |         CAST(user_id AS VARCHAR) AS dim_user,
      |         'web' || lpad(CAST(user_id % 3 AS VARCHAR), 2, '0') AS dim_host,
      |         CASE WHEN user_id % 2 = 0 THEN 'den' ELSE 'sjc' END AS dim_colo,
      |         value
      |  FROM events)
      |""".stripMargin

  private def inRange(ns: String = "", extra: String = ""): String = {
    val nsClause = if (ns.isEmpty) "" else s"AND namespace = '$ns'"
    // The day clause restates EventsEngine.dayConjunct: only events whose
    // UTC start day falls in [day(Start - maxSpan), day(End - 1)] are
    // visible — the reference's daily-index selection, which also bounds
    // ongoing events (an ongoing doc in an unopened day index never
    // matches).
    // (pure epoch-day integer arithmetic — no engine-timezone dependence;
    // the Spark session is pinned UTC so its yyyy-MM-dd day partitions
    // coincide with these epoch-day buckets)
    val dayClause =
      s"""AND start_ts - start_ts % 86400
         |     BETWEEN ${((Start - 3600) / 86400) * 86400}
         |         AND ${((End - 1) / 86400) * 86400}""".stripMargin
    s"""((start_ts >= $Start AND start_ts < $End)
       | OR (end_ts >= $Start AND end_ts < $End) OR ongoing)
       | $dayClause
       | $nsClause $extra""".stripMargin.replace("\n", " ")
  }

  /** Multi-term multi-field text clause matching
   *  EventsEngine.textPredicate. */
  private def textClause(terms: Seq[String]): String =
    terms.map { t =>
      val re = t.replace("*", ".*").toLowerCase
      EventsModel.SearchFields
        .map(f => s"regexp_matches(lower($f), '$re')")
        .mkString("(", " OR ", ")")
    }.mkString(" AND (", " AND ", ")")

  /** Gaps-and-islands restatement of session_window (break strictly
   *  beyond the gap — the inclusive boundary SessionsSpec pins), shared
   *  by the batch query and the watermarked-stream query: finalized
   *  streamed sessions must be row-identical to the batch run. */
  private val sessionsOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
       |         CASE WHEN isnan(value) THEN NULL ELSE value END AS v
       |  FROM events),
       |o AS (
       |  SELECT user_id, s, v,
       |         CASE WHEN lag(s) OVER (PARTITION BY user_id ORDER BY s) IS NULL
       |              OR s - lag(s) OVER (PARTITION BY user_id ORDER BY s) > 86400
       |              THEN 1 ELSE 0 END AS brk
       |  FROM ev),
       |sess AS (
       |  SELECT user_id, s, v,
       |         sum(brk) OVER (PARTITION BY user_id ORDER BY s
       |                        ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM o)
       |SELECT user_id, min(s) AS session_start, max(s) AS session_end,
       |       count(*) AS n_events, ${OracleCommon.rnd("sum(v)")} AS sum_value
       |FROM sess GROUP BY user_id, sid""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_events_search" ->
      s"""WITH $docsCte
         |SELECT event_id, namespace, source, title, start_ts, end_ts, ongoing
         |FROM docs WHERE ${inRange("error")} ${textClause(Seq("by", "user", "1*"))}""".stripMargin,

    // JSON front-end replay: identical selection, shared restatement
    "q_json_events_search" ->
      s"""WITH $docsCte
         |SELECT event_id, namespace, source, title, start_ts, end_ts, ongoing
         |FROM docs WHERE ${inRange("error")} ${textClause(Seq("by", "user", "1*"))}""".stripMargin,

    // ANSI-SQL facade replay: identical selection, shared restatement
    "q_sql_events_search" ->
      s"""WITH $docsCte
         |SELECT event_id, namespace, source, title, start_ts, end_ts, ongoing
         |FROM docs WHERE ${inRange("error")} ${textClause(Seq("by", "user", "1*"))}""".stripMargin,

    "q_events_range_ns" ->
      s"""WITH $docsCte
         |SELECT event_id, start_ts, end_ts, ongoing, priority
         |FROM docs WHERE ${inRange("purchase")}""".stripMargin,

    "q_events_funnel" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS s
         |  FROM events),
         |v AS (SELECT user_id, min(s) AS t0 FROM ev WHERE event_type = 'view' GROUP BY 1),
         |c AS (SELECT v.user_id, v.t0,
         |             min(CASE WHEN e.event_type = 'click' AND e.s >= v.t0 THEN e.s END) AS t1
         |      FROM v LEFT JOIN ev e ON e.user_id = v.user_id GROUP BY 1, 2),
         |p AS (SELECT c.user_id, c.t0, c.t1,
         |             min(CASE WHEN e.event_type = 'purchase' AND e.s >= c.t1 THEN e.s END) AS t2
         |      FROM c LEFT JOIN ev e ON e.user_id = c.user_id GROUP BY 1, 2, 3)
         |SELECT user_id, t0 AS view_ts, t1 AS click_ts, t2 AS purchase_ts,
         |       CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2 ELSE 1 END AS depth
         |FROM p""".stripMargin,

    "q_events_funnel_window" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS s
         |  FROM events),
         |v AS (SELECT user_id, min(s) AS t0 FROM ev WHERE event_type = 'view' GROUP BY 1),
         |c AS (SELECT v.user_id, v.t0,
         |             min(CASE WHEN e.event_type = 'click' AND e.s >= v.t0
         |                       AND e.s <= v.t0 + 172800 THEN e.s END) AS t1
         |      FROM v LEFT JOIN ev e ON e.user_id = v.user_id GROUP BY 1, 2),
         |p AS (SELECT c.user_id, c.t0, c.t1,
         |             min(CASE WHEN e.event_type = 'purchase' AND e.s >= c.t1
         |                       AND e.s <= c.t1 + 172800 THEN e.s END) AS t2
         |      FROM c LEFT JOIN ev e ON e.user_id = c.user_id GROUP BY 1, 2, 3)
         |SELECT user_id, t0 AS view_ts, t1 AS click_ts, t2 AS purchase_ts,
         |       CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2 ELSE 1 END AS depth
         |FROM p""".stripMargin,

    "q_events_sessions" -> sessionsOracle,

    // the identical (ts, event_id) total order chains the same pairs;
    // the conditional divides over the aggregated |types|^2 relation
    "q_events_transitions" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         |         event_id
         |  FROM events),
         |seq AS (
         |  SELECT user_id, event_type,
         |         lag(event_type) OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev
         |  FROM ev),
         |pairs AS (
         |  SELECT prev AS prev_type, event_type AS next_type, count(*) AS n
         |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
         |SELECT prev_type, next_type, n,
         |       ${OracleCommon.rnd("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)")} AS p
         |FROM pairs ORDER BY prev_type, next_type""".stripMargin,

    // head-restriction replay: top-3 types by (count DESC, type ASC),
    // tail remapped to '__other' BEFORE the lag chain
    "q_events_transitions_capped" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         |         event_id
         |  FROM events),
         |hd AS (
         |  SELECT event_type FROM ev GROUP BY 1
         |  ORDER BY count(*) DESC, event_type ASC LIMIT 3),
         |m AS (
         |  SELECT user_id, s, event_id,
         |         CASE WHEN event_type IN (SELECT event_type FROM hd)
         |              THEN event_type ELSE '__other' END AS t
         |  FROM ev),
         |seq AS (
         |  SELECT user_id, t,
         |         lag(t) OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev
         |  FROM m),
         |pairs AS (
         |  SELECT prev AS prev_type, t AS next_type, count(*) AS n
         |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
         |SELECT prev_type, next_type, n,
         |       ${OracleCommon.rnd("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)")} AS p
         |FROM pairs ORDER BY prev_type, next_type""".stripMargin,

    "q_events_retention" ->
      s"""WITH ev AS (
         |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
         |  FROM events),
         |c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
         |a AS (SELECT DISTINCT e.user_id, c.cohort_day, e.day - c.cohort_day AS day_k
         |      FROM ev e JOIN c USING (user_id))
         |SELECT cohort_day, day_k, count(*) AS n_active
         |FROM a GROUP BY 1, 2""".stripMargin,

    "q_events_paging" ->
      s"""WITH $docsCte
         |SELECT event_id, start_ts, title
         |FROM docs WHERE ${inRange("click")}
         |ORDER BY start_ts DESC, event_id DESC
         |LIMIT 50 OFFSET 25""".stripMargin,

    "q_events_group" ->
      s"""WITH $docsCte
         |SELECT dim_host AS host, count(*) AS hits
         |FROM docs WHERE ${inRange()}
         |GROUP BY 1""".stripMargin,

    "q_events_group_last" ->
      s"""WITH $docsCte,
         |filtered AS (
         |  SELECT * FROM docs WHERE ${inRange()} ${textClause(Seq("click"))}),
         |counts AS (SELECT dim_colo AS colo, count(*) AS hits FROM filtered GROUP BY 1),
         |last AS (
         |  SELECT dim_colo AS colo, event_id AS last_event_id,
         |         title AS last_title, start_ts AS last_start_ts
         |  FROM filtered
         |  QUALIFY row_number() OVER (PARTITION BY dim_colo
         |                             ORDER BY start_ts DESC, event_id DESC) = 1)
         |SELECT c.colo, c.hits, l.last_event_id, l.last_title, l.last_start_ts
         |FROM counts c JOIN last l USING (colo)""".stripMargin,

    "q_events_downsample" ->
      s"""WITH $docsCte
         |SELECT start_ts - start_ts % 60 AS bucket_ts, count(*) AS hits
         |FROM docs WHERE ${inRange("view")}
         |GROUP BY 1""".stripMargin,

    // regexp restatement of the JSON field extract (TRY_CAST so an
    // absent field degrades to NULL exactly like get_json_object);
    // integer aggregates recast to BIGINT so pandas keeps them integral
    "q_events_attr_stats" ->
      s"""WITH $docsCte,
         |x AS (
         |  SELECT namespace, start_ts - start_ts % 86400 AS day,
         |         TRY_CAST(regexp_extract(message, '"k": (\\d+)', 1) AS BIGINT) AS a
         |  FROM docs WHERE ${inRange()})
         |SELECT namespace, day, count(*) AS hits,
         |       count(a) AS with_field,
         |       CAST(sum(a) AS BIGINT) AS field_sum,
         |       max(a) AS field_max
         |FROM x GROUP BY 1, 2""".stripMargin,

    "q_events_top1" ->
      s"""WITH $docsCte
         |SELECT dim_user AS user, event_id, title, start_ts
         |FROM docs WHERE ${inRange("error")}
         |QUALIFY row_number() OVER (PARTITION BY dim_user
         |                           ORDER BY start_ts DESC, event_id DESC) = 1""".stripMargin,

    "q_events_dims" ->
      s"""WITH $docsCte
         |SELECT event_id, start_ts, priority
         |FROM docs WHERE ${inRange("click")} AND dim_host = 'web01'""".stripMargin,

    // JSON front-end replays: identical selections, shared restatements —
    // a parser/dispatch divergence shows up as a hash mismatch
    "q_json_events_group" ->
      s"""WITH $docsCte
         |SELECT dim_host AS host, count(*) AS hits
         |FROM docs WHERE ${inRange()}
         |GROUP BY 1""".stripMargin,

    "q_json_events_group_last" ->
      s"""WITH $docsCte,
         |filtered AS (
         |  SELECT * FROM docs WHERE ${inRange()} ${textClause(Seq("click"))}),
         |counts AS (SELECT dim_colo AS colo, count(*) AS hits FROM filtered GROUP BY 1),
         |last AS (
         |  SELECT dim_colo AS colo, event_id AS last_event_id,
         |         title AS last_title, start_ts AS last_start_ts
         |  FROM filtered
         |  QUALIFY row_number() OVER (PARTITION BY dim_colo
         |                             ORDER BY start_ts DESC, event_id DESC) = 1)
         |SELECT c.colo, c.hits, l.last_event_id, l.last_title, l.last_start_ts
         |FROM counts c JOIN last l USING (colo)""".stripMargin,

    "q_json_events_paging" ->
      s"""WITH $docsCte
         |SELECT event_id, start_ts, title
         |FROM docs WHERE ${inRange("click")}
         |ORDER BY start_ts DESC, event_id DESC
         |LIMIT 50 OFFSET 25""".stripMargin,

    "q_json_events_downsample" ->
      s"""WITH $docsCte
         |SELECT start_ts - start_ts % 60 AS bucket_ts, count(*) AS hits
         |FROM docs WHERE ${inRange("view")}
         |GROUP BY 1""".stripMargin,

    "q_events_children" ->
      s"""WITH $docsCte,
         |ch AS (SELECT event_id, event_id - event_id % 10 AS parent_id
         |       FROM docs WHERE event_id % 10 != 0),
         |agg AS (SELECT parent_id AS event_id,
         |               CAST(count(*) AS BIGINT) AS n_children,
         |               array_to_string(list_sort(list(event_id)), ',') AS child_ids
         |        FROM ch GROUP BY 1)
         |SELECT d.event_id, a.n_children, a.child_ids
         |FROM docs d JOIN agg a USING (event_id)""".stripMargin,

    "q_events_upsert" ->
      s"""WITH $docsCte,
         |log AS (
         |  SELECT event_id, 1 AS version, start_ts, end_ts, ongoing, value FROM docs
         |  UNION ALL
         |  SELECT event_id, 2 AS version, start_ts, end_ts + 600, false, value * 2
         |  FROM docs WHERE event_id % 13 = 0)
         |SELECT event_id, version, start_ts, end_ts, ongoing,
         |       ${OracleCommon.rnd("value")} AS value
         |FROM log
         |QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY version DESC) = 1""".stripMargin,

    // streamed sessionization replays the batch restatement verbatim:
    // any watermark-finalization divergence shows up as a hash mismatch
    "q_stream_sessions" -> sessionsOracle
  )
}
