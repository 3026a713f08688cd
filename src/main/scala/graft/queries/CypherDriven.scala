package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cypher.Cypher
import graft.sources.{Tables, TpchGraph}

/** Correctness-gate entries that execute through the FULL Cypher stack
  * (string → parser → AST → DataFrame compiler) over the TPC-H graph
  * projection, oracle-checked against plain SQL on the base tables — the
  * parser and compiler are inside the hash-checked path, not just unit
  * tests.
  */
object CypherDriven {

  private def run(q: String)(s: SparkSession, dir: String) = {
    implicit val sp: SparkSession = s
    Cypher.query(TpchGraph(Tables(s, dir)), q)
  }

  /** D2+D6 through Cypher: label scan + count. */
  val cy01 = QueryDef.sql("cy01_label_count",
    "SELECT CAST(count(*) AS BIGINT) AS n FROM customer") {
    run("MATCH (n:customer) RETURN count(n) AS n")(_, _)
  }

  /** D3+D5 through Cypher: property filter + projection + ORDER BY. */
  val cy02 = QueryDef.sql("cy02_filter_order",
    """SELECT c_name AS name FROM customer
      |WHERE c_mktsegment = 'BUILDING' ORDER BY name""".stripMargin) {
    run("""MATCH (c:customer) WHERE c.mktsegment = 'BUILDING'
          |RETURN c.name AS name ORDER BY name""".stripMargin)(_, _)
  }

  /** D11+D19 through Cypher: traversal + group aggregation. */
  val cy03 = QueryDef.sql("cy03_traverse_agg",
    """SELECT o_orderstatus AS status, count(*) AS n
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY 1 ORDER BY status""".stripMargin) {
    run("""MATCH (c:customer {mktsegment: 'BUILDING'})-[:PLACED]->(o:order)
          |RETURN o.status AS status, count(o) AS n
          |ORDER BY status""".stripMargin)(_, _)
  }

  /** D27 through Cypher: OPTIONAL MATCH with null-skipping count. */
  val cy04 = QueryDef.sql("cy04_optional_count",
    """SELECT n_name AS name, count(c_custkey) AS n_cust
      |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY name""".stripMargin) {
    run("""MATCH (n:nation)
          |OPTIONAL MATCH (c:customer)-[:IN_NATION]->(n)
          |RETURN n.name AS name, count(id(c)) AS n_cust
          |ORDER BY name""".stripMargin)(_, _)
  }

  /** D16+D31 through Cypher: string functions + regex in WHERE. */
  val cy05 = QueryDef.sql("cy05_string_regex",
    """SELECT p_name AS name FROM part
      |WHERE lower(p_name) LIKE '%bolt%'
      |  AND regexp_matches(p_name, '^(small|large)')
      |ORDER BY name""".stripMargin) {
    run("""MATCH (p:part)
          |WHERE toLower(p.name) CONTAINS 'bolt'
          |  AND p.name =~ '^(small|large).*'
          |RETURN p.name AS name ORDER BY name""".stripMargin)(_, _)
  }

  /** D21/D23 mutation round-trip INSIDE the gate: SET a property on
    * matched vertices, REMOVE another, then read the mutated snapshot
    * back — the oracle reproduces the end state relationally. */
  val cy06 = QueryDef.sql("cy06_mutation_roundtrip",
    """SELECT 'n:' || n_nationkey AS id,
      |  CASE WHEN substr(n_name, 1, 8) = 'NATION_1' THEN 'yes' END
      |    AS flagged,
      |  CASE WHEN substr(n_name, 1, 8) = 'NATION_1' THEN NULL
      |       ELSE n_name END AS name
      |FROM nation ORDER BY id""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    val g0 = TpchGraph(Tables(s, dir))
    val g1 = Cypher.execute(g0,
      """MATCH (n:nation) WHERE n.name STARTS WITH 'NATION_1'
        |SET n.flagged = 'yes'""".stripMargin).state
    val g2 = Cypher.execute(g1,
      """MATCH (n:nation) WHERE exists(n.flagged) REMOVE n.name""").state
    Cypher.query(g2,
      """MATCH (n:nation)
        |RETURN id(n) AS id, n.flagged AS flagged, n.name AS name
        |ORDER BY id""".stripMargin)
  }

  /** D7/D8 CREATE inside the gate: per-MATCH-row CREATE with property
    * expressions referencing the matched binding, then read the created
    * vertices back — generated uuids stay internal; the oracle reproduces
    * the created PROPERTIES relationally. */
  val cy07 = QueryDef.sql("cy07_create_from_match",
    "SELECT r_name AS name FROM region ORDER BY name") { (s, dir) =>
    implicit val sp: SparkSession = s
    val g1 = Cypher.execute(TpchGraph(Tables(s, dir)),
      "MATCH (r:region) CREATE (m:mirror {name: r.name})").state
    Cypher.query(g1, "MATCH (m:mirror) RETURN m.name AS name ORDER BY name")
  }

  /** D22 SET label round-trip: label added by predicate, then the new
    * label drives a scan. */
  val cy08 = QueryDef.sql("cy08_set_label",
    """SELECT 'n:' || n_nationkey AS id FROM nation
      |WHERE substr(n_name, 1, 8) = 'NATION_1' ORDER BY id""".stripMargin) {
    (s, dir) =>
      implicit val sp: SparkSession = s
      val g1 = Cypher.execute(TpchGraph(Tables(s, dir)),
        """MATCH (n:nation) WHERE n.name STARTS WITH 'NATION_1'
          |SET n:audited""".stripMargin).state
      Cypher.query(g1, "MATCH (a:audited) RETURN id(a) AS id ORDER BY id")
  }

  /** D24 edge property update round-trip: SET on matched relationships,
    * then the new edge property drives the read. */
  val cy09 = QueryDef.sql("cy09_edge_prop_update",
    """SELECT 'c:' || o_custkey AS cid, 'o:' || o_orderkey AS oid
      |FROM orders WHERE o_orderstatus = 'O' ORDER BY cid, oid""".stripMargin) {
    (s, dir) =>
      implicit val sp: SparkSession = s
      val g1 = Cypher.execute(TpchGraph(Tables(s, dir)),
        """MATCH (c:customer)-[r:PLACED]->(o:order {status: 'O'})
          |SET r.flag = 'open'""".stripMargin).state
      Cypher.query(g1,
        """MATCH (c:customer)-[r:PLACED]->(o:order) WHERE exists(r.flag)
          |RETURN id(c) AS cid, id(o) AS oid ORDER BY cid, oid""".stripMargin)
  }

  /** D25 edge delete by pattern: remaining PLACED edges counted after
    * deleting one segment's. */
  val cy10 = QueryDef.sql("cy10_edge_delete",
    """SELECT CAST(count(*) AS BIGINT) AS n
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |WHERE c_mktsegment <> 'BUILDING'""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    val g1 = Cypher.execute(TpchGraph(Tables(s, dir)),
      """MATCH (c:customer {mktsegment: 'BUILDING'})-[r:PLACED]->(o:order)
        |DELETE r""".stripMargin).state
    Cypher.query(g1,
      "MATCH (c:customer)-[r:PLACED]->(o:order) RETURN count(r) AS n")
  }

  /** D26 DETACH DELETE: vertex and its incident edges cascade away. */
  val cy11 = QueryDef.sql("cy11_detach_delete",
    """SELECT CAST(count(*) AS BIGINT) AS n
      |FROM customer JOIN nation ON n_nationkey = c_nationkey
      |WHERE n_name <> 'NATION_1'""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    val g1 = Cypher.execute(TpchGraph(Tables(s, dir)),
      "MATCH (n:nation {name: 'NATION_1'}) DETACH DELETE n").state
    Cypher.query(g1,
      "MATCH (c:customer)-[e:IN_NATION]->(n:nation) RETURN count(e) AS n")
  }

  /** Per-row MERGE in the gate: a seeded subset matches, the rest create —
    * the end state must hold exactly one mirror per region. */
  val cy12 = QueryDef.sql("cy12_merge_per_row",
    "SELECT r_name AS name FROM region ORDER BY name") { (s, dir) =>
    implicit val sp: SparkSession = s
    val g0 = TpchGraph(Tables(s, dir))
    val g1 = Cypher.execute(g0,
      """MATCH (r:region) WHERE r.name < 'AS'
        |CREATE (m:rmirror {name: r.name})""".stripMargin).state
    val g2 = Cypher.execute(g1,
      "MATCH (r:region) MERGE (m:rmirror {name: r.name})").state
    Cypher.query(g2,
      "MATCH (m:rmirror) RETURN m.name AS name ORDER BY name")
  }

  /** Batch/stream unification: the EXACT transformation used by the
    * Structured Streaming path (EventStreams.windowedAggregates) run in
    * batch mode, oracle-checked — one code path, two execution modes. */
  val st01 = QueryDef.sql("st01_stream_batch_parity",
    s"""SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       |  event_type, n, sum_value FROM (
       |  SELECT date_trunc('hour', ts) AS ws, event_type,
       |    count(*) AS n,
       |    ${graft.queries.Det.moneySumSql("value")} AS sum_value
       |  FROM events GROUP BY 1, 2)
       |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
    val agg = graft.streaming.EventStreams
      .windowedAggregates(Tables(s, dir).events, watermark = "0 seconds")
    agg.select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"),
        col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Gap-based sessionization (30-min inactivity), batch form of the
    * flatMapGroupsWithState streaming operator, vs a DuckDB
    * gaps-and-islands oracle. Whole-second gap deltas keep the boundary
    * decision precision-independent (parquet nanos vs Spark micros). */
  val st02 = QueryDef.sql("st02_sessionization",
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR CAST(floor(epoch(ts)) AS BIGINT)
      |         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), y AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_seq
      |  FROM x)
      |SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM y GROUP BY 1, 2
      |ORDER BY user_id, sess_seq""".stripMargin) { (s, dir) =>
    graft.streaming.EventStreams
      .sessionizeBatch(Tables(s, dir).events, gapSeconds = 1800)
      .select(col("user_id"), col("sess_seq").cast("long"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("sess_seq"))
  }

  /** As-of join vs DuckDB's native ASOF JOIN: each click/view/etc. event
    * picks up the user's latest signup value at-or-before its timestamp.
    */
  val tj01 = QueryDef.sql("tj01_asof_join",
    """SELECT e.event_id, e.user_id,
      |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
      |  s.signup_value
      |FROM (SELECT event_id, user_id, ts, value FROM events
      |      WHERE event_type <> 'signup') e
      |ASOF LEFT JOIN
      |  (SELECT user_id, ts,
      |     CAST(floor(value * 100) AS DOUBLE) / 100 AS signup_value
      |   FROM events WHERE event_type = 'signup') s
      |ON e.user_id = s.user_id AND e.ts >= s.ts
      |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables(s, dir).events
    val left = ev.filter(col("event_type") =!= "signup")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val right = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"),
        graft.queries.Det.floor2(col("value")).as("signup_value"))
    graft.temporal.Temporal.asOfJoin(left, right, "user_id", "ts")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("signup_value"))
      .orderBy(col("event_id"))
  }

  /** MERGE ON CREATE SET / ON MATCH SET in the gate: a seeded subset
    * takes the ON MATCH branch, the remainder the ON CREATE branch, and
    * the resulting per-vertex flags are read back — the oracle derives
    * each region's branch relationally. */
  val cy19 = QueryDef.sql("cy19_merge_on_set",
    """SELECT r_name AS name,
      |  CASE WHEN r_name < 'AS' THEN 'had' ELSE 'new' END AS flag
      |FROM region ORDER BY name""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    val g0 = TpchGraph(Tables(s, dir))
    val g1 = Cypher.execute(g0,
      """MATCH (r:region) WHERE r.name < 'AS'
        |CREATE (m:omirror {name: r.name})""".stripMargin).state
    val g2 = Cypher.execute(g1,
      """MATCH (r:region) MERGE (m:omirror {name: r.name})
        |ON MATCH SET m.flag = 'had'
        |ON CREATE SET m.flag = 'new'""".stripMargin).state
    Cypher.query(g2,
      """MATCH (m:omirror) RETURN m.name AS name, m.flag AS flag
        |ORDER BY name""".stripMargin)
  }

  /** Query parameters through the full stack: `$seg` and `$minlen`
    * resolve at parse time so every literal position takes a parameter
    * — the plan is identical to the inlined-literal query (plan reuse
    * for a parameterized workload). */
  val cy18 = QueryDef.sql("cy18_parameters",
    """SELECT c_name AS name FROM customer
      |WHERE c_mktsegment = 'AUTOMOBILE' AND length(c_name) > 15
      |ORDER BY name""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    Cypher.query(TpchGraph(Tables(s, dir)),
      """MATCH (c:customer) WHERE c.mktsegment = $seg
        |  AND size(c.name) > $minlen
        |RETURN c.name AS name ORDER BY name""".stripMargin,
      Map("seg" -> "AUTOMOBILE", "minlen" -> 15))
  }

  /** Keyless interval join through the BINNED range-join operator (every
    * event × every overlapping campaign window — the naive plan is a
    * cross join; the binned plan is an equi-join on a time bin). The
    * oracle runs the naive inequality join, so a hash match proves the
    * binning is lossless and dup-free. */
  val tj02 = QueryDef.sql("tj02_range_join",
    """WITH iv AS (
      |  SELECT user_id AS campaign, min(ts) AS start_ts,
      |    min(ts) + INTERVAL 30 MINUTE AS end_ts
      |  FROM events WHERE user_id < 50 GROUP BY user_id)
      |SELECT campaign, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
      |FROM iv JOIN events e ON e.ts >= start_ts AND e.ts <= end_ts
      |GROUP BY campaign ORDER BY campaign""".stripMargin) { (s, dir) =>
    val ev = Tables(s, dir).events
    val iv = ev.filter(col("user_id") < 50)
      .groupBy(col("user_id").as("campaign"))
      .agg(min(col("ts")).as("start_ts"))
      .withColumn("end_ts", col("start_ts") + expr("INTERVAL 30 MINUTES"))
    graft.temporal.Temporal.rangeJoinBinned(
        ev.select(col("user_id"), col("ts")), "ts",
        iv, "start_ts", "end_ts", binSeconds = 1800)
      .groupBy(col("campaign"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("campaign"))
  }

  /** Time-series gap filling (daily resample + forward fill): every
    * sampled user gets one row per day of the global observed range;
    * un-observed days carry the user's latest daily-last value forward
    * with a `filled` marker. Values are carried verbatim (no float
    * arithmetic), so the hash pins the resample grid, the per-day
    * last-event choice (ts, id tie-break), and the fill provenance. */
  val tj03 = QueryDef.sql("tj03_gapfill",
    """WITH obs AS (
      |  SELECT user_id AS key, CAST(ts AS DATE) AS day,
      |    last(value ORDER BY ts, event_id) AS v
      |  FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
      |r AS (SELECT min(day) AS d0, max(day) AS d1 FROM obs),
      |days AS (
      |  SELECT CAST(unnest(generate_series((SELECT d0 FROM r),
      |    (SELECT d1 FROM r), INTERVAL 1 DAY)) AS DATE) AS day),
      |grid AS (
      |  SELECT k.key, days.day
      |  FROM (SELECT DISTINCT key FROM obs) k CROSS JOIN days),
      |f AS (
      |  SELECT grid.key, grid.day, obs.v,
      |    last_value(obs.v IGNORE NULLS) OVER (PARTITION BY grid.key
      |      ORDER BY grid.day ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      CURRENT ROW) AS vf
      |  FROM grid LEFT JOIN obs USING (key, day))
      |SELECT key, strftime(day, '%Y-%m-%d') AS day, vf AS value_ff,
      |  CAST((v IS NULL AND vf IS NOT NULL) AS BIGINT) AS filled
      |FROM f ORDER BY key, day""".stripMargin) { (s, dir) =>
    graft.functions.EventOps.gapFillDaily(
        Tables(s, dir).events.filter(col("user_id") % 10 === 0),
        "user_id", "ts", "event_id", "value")
      .select(col("key"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("value_ff"), col("filled"))
      .orderBy(col("key"), col("day"))
  }

  /** Trailing-median anomaly flags: per (event_type, day), a day is
    * anomalous when its count exceeds 2× the median of the previous 7
    * OBSERVED days (ROWS −7..−1 — zero-event days emit no row, so the
    * frame is the last 7 rows, not a calendar window; compose with
    * tj03's gap fill first for calendar semantics. First days with an
    * empty frame are un-flagged).
    * Median of integer counts interpolates at .0/.5 — exactly
    * representable, so the flag comparison is bit-portable. The robust
    * (median-based) alternative to z-scores, which would need a
    * non-portable stddev. */
  val tj04 = QueryDef.sql("tj04_anomaly_flags",
    """SELECT day, event_type, n,
      |  med, CAST(CASE WHEN med IS NOT NULL AND n > 2 * med
      |    THEN 1 ELSE 0 END AS BIGINT) AS anomaly
      |FROM (
      |  SELECT day, event_type, n,
      |    median(n) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS med
      |  FROM (
      |    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      |      CAST(count(*) AS BIGINT) AS n
      |    FROM events GROUP BY 1, 2))
      |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
    val daily = Tables(s, dir).events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("med", expr("percentile(n, 0.5)").over(w))
      .select(col("day"), col("event_type"), col("n"), col("med"),
        (col("med").isNotNull && col("n") > col("med") * 2)
          .cast("long").as("anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Spark's NATIVE session_window operator (vs st02's hand-rolled
    * gaps-and-islands): per-user 30-minute-gap sessions as one
    * groupBy(session_window) aggregation. The operator MERGES events
    * exactly `gap` apart (windows [t, t+gap) and [t+gap, t+2·gap) are
    * adjacent and coalesce — verified empirically), so a new session
    * starts only when delta > gap, at full microsecond precision; the
    * oracle replays exactly that rule, pinning the built-in operator's
    * boundary semantics. Session end is last-event + gap (the
    * operator's [start, last+gap) window). */
  val tj05 = QueryDef.sql("tj05_session_window",
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), y AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_seq
      |  FROM x)
      |SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
      |  epoch_ms(max(ts) + INTERVAL 30 MINUTE) AS session_end_ms,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM y GROUP BY user_id, sess_seq
      |ORDER BY user_id, session_start_ms""".stripMargin) { (s, dir) =>
    Tables(s, dir).events
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_ms"))
  }

  /** SCD-2 upsert in the gate (previously spec-only): the first-half
    * signup history becomes versioned rows (end = next version's
    * start, latest open), a fresh batch of latest post-cutoff signups
    * arrives, and `Temporal.scd2Upsert` must close exactly the updated
    * users' open intervals at the fresh start time while appending the
    * fresh versions open — every interval boundary pinned as epoch
    * millis. */
  val tj06 = QueryDef.sql("tj06_scd2_upsert",
    """WITH s AS (SELECT user_id, value, ts, event_id FROM events
      |           WHERE event_type = 'signup'),
      |cur AS (
      |  SELECT user_id, value, ts AS start_ts,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS end_ts
      |  FROM s WHERE ts < TIMESTAMP '2024-01-16'),
      |fresh AS (
      |  SELECT user_id, last(value ORDER BY ts, event_id) AS value,
      |    max(ts) AS start_ts
      |  FROM s WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY user_id),
      |closed AS (
      |  SELECT c.user_id, c.value, c.start_ts,
      |    CASE WHEN c.end_ts IS NULL AND f.start_ts IS NOT NULL
      |      THEN f.start_ts ELSE c.end_ts END AS end_ts
      |  FROM cur c LEFT JOIN fresh f USING (user_id)),
      |un AS (
      |  SELECT user_id, value, start_ts, end_ts FROM closed
      |  UNION ALL
      |  SELECT user_id, value, start_ts, NULL FROM fresh)
      |SELECT user_id, value, epoch_ms(start_ts) AS start_ms,
      |  epoch_ms(end_ts) AS end_ms
      |FROM un ORDER BY user_id, start_ms, value""".stripMargin) {
    (s, dir) =>
    val cutoff = lit("2024-01-16").cast("timestamp")
    val sg = Tables(s, dir).events
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("value"), col("ts"), col("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val current = sg.filter(col("ts") < cutoff)
      .select(col("user_id"), col("value"), col("ts").as("start_time"),
        lead(col("ts"), 1).over(w).as("end_time"))
    val fresh = sg.filter(col("ts") >= cutoff)
      .groupBy(col("user_id"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("value"),
        max(col("ts")).as("ts"))
      .withColumn("start_time", col("ts"))
    graft.temporal.Temporal.scd2Upsert(current, fresh, "user_id", "ts")
      .select(col("user_id"), col("value"),
        unix_millis(col("start_time")).as("start_ms"),
        unix_millis(col("end_time")).as("end_ms"))
      // value as the third key totalizes the order even if two
      // versions land in the same truncated millisecond
      .orderBy(col("user_id"), col("start_ms"), col("value"))
  }

  /** Catalog procedures through the full Cypher stack: CALL db.labels()
    * and db.relationshipTypes() with YIELD, composed under UNION ALL —
    * the schema-discovery surface every interactive Cypher user touches
    * first. The oracle states the projection's fixed catalog. */
  val cy27 = QueryDef.sql("cy27_procedures",
    """SELECT kind, name FROM (VALUES
      |  ('label', 'customer'), ('label', 'nation'), ('label', 'order'),
      |  ('label', 'part'), ('label', 'region'), ('label', 'supplier'),
      |  ('reltype', 'CONTAINS'), ('reltype', 'IN_NATION'),
      |  ('reltype', 'IN_REGION'), ('reltype', 'PLACED')) t(kind, name)
      |ORDER BY kind, name""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    Cypher.query(TpchGraph(Tables(s, dir)),
      """CALL db.labels() YIELD name RETURN 'label' AS kind, name
        |UNION ALL
        |CALL db.relationshipTypes() YIELD name
        |RETURN 'reltype' AS kind, name""".stripMargin)
      .orderBy(col("kind"), col("name"))
  }

  /** CASE expression through the full Cypher stack: priority-bucketed
    * order counts (searched CASE feeding an aggregation). */
  val cy13 = QueryDef.sql("cy13_case_buckets",
    """SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |         THEN 'expedite'
      |       WHEN o_orderpriority = '3-MEDIUM' THEN 'standard'
      |       ELSE 'relaxed' END AS bucket,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) {
    run("""MATCH (o:order)
          |RETURN CASE WHEN o.priority IN ['1-URGENT', '2-HIGH']
          |         THEN 'expedite'
          |       WHEN o.priority = '3-MEDIUM' THEN 'standard'
          |       ELSE 'relaxed' END AS bucket, count(*) AS n
          |ORDER BY bucket""".stripMargin)(_, _)
  }

  /** EXISTS{} subquery through the full Cypher stack: nations that have
    * at least one supplier — decorrelated to a count join, no per-row
    * probing. */
  val cy14 = QueryDef.sql("cy14_exists_filter",
    """SELECT n_name AS name FROM nation
      |WHERE EXISTS (SELECT 1 FROM supplier
      |              WHERE s_nationkey = n_nationkey)
      |ORDER BY name""".stripMargin) {
    run("""MATCH (n:nation)
          |WHERE EXISTS { (s:supplier)-[:IN_NATION]->(n) }
          |RETURN n.name AS name ORDER BY name""".stripMargin)(_, _)
  }

  /** COUNT{} subquery in a projection: per-nation customer counts as a
    * per-row value (0 preserved for empty nations — LEFT-join
    * semantics). */
  val cy15 = QueryDef.sql("cy15_count_subquery",
    """SELECT n_name AS name, CAST(
      |    (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey)
      |  AS BIGINT) AS n_cust
      |FROM nation ORDER BY name""".stripMargin) {
    run("""MATCH (n:nation)
          |RETURN n.name AS name,
          |  COUNT { (c:customer)-[:IN_NATION]->(n) } AS n_cust
          |ORDER BY name""".stripMargin)(_, _)
  }

  /** UNION through the full Cypher stack: distinct names drawn from two
    * different labels (dedup across parts is the UNION contract; the
    * plan is one unionByName + a single distinct — no per-part jobs).
    * Ordering is applied to the combined result by the harness wrapper,
    * as Cypher scopes ORDER BY to a single part. */
  val cy16 = QueryDef.sql("cy16_union",
    """SELECT c_name AS name FROM customer WHERE c_mktsegment = 'MACHINERY'
      |UNION
      |SELECT s_name FROM supplier
      |ORDER BY name""".stripMargin) { (s, dir) =>
    run("""MATCH (c:customer) WHERE c.mktsegment = 'MACHINERY'
          |RETURN c.name AS name
          |UNION
          |MATCH (su:supplier) RETURN su.name AS name""".stripMargin)(s, dir)
      .orderBy(col("name"))
  }

  /** Map projection `c {.*, alias: expr}` through the full stack —
    * the result map is exploded to (row, key, value) so the plain-SQL
    * oracle can pin every entry, including the explicit-key-wins merge
    * of the `.*` remainder. */
  val cy17 = QueryDef.sql("cy17_map_projection",
    """SELECT name, key, value FROM (
      |  SELECT c_name AS name, 'name' AS key, c_name AS value
      |  FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION ALL SELECT c_name, 'mktsegment', c_mktsegment
      |  FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION ALL SELECT c_name, 'seg', lower(c_mktsegment)
      |  FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY name, key""".stripMargin) { (s, dir) =>
    run("""MATCH (c:customer) WHERE c.mktsegment = 'BUILDING'
          |RETURN c.name AS name, c {.*, seg: toLower(c.mktsegment)} AS m"""
        .stripMargin)(s, dir)
      .select(col("name"), explode(col("m")).as(Seq("key", "value")))
      .orderBy(col("name"), col("key"))
  }

  /** End-to-end streaming graph ingestion: events flow through a real
    * Structured Streaming query into the graph via the foreachBatch
    * upsert sink, then the RESULTING GRAPH STATE (not the stream output)
    * is hash-compared against the relational ground truth — proving
    * stream-ingested state equals batch-built state. The file source
    * needs a directory, so events.parquet is staged into a temp dir. */
  val st03 = QueryDef.sql("st03_stream_graph_upsert",
    """SELECT 'ev:' || event_id AS id, event_type AS label,
      |  CAST(user_id AS VARCHAR) AS uid
      |FROM events ORDER BY id""".stripMargin) { (s, dir) =>
    val stage = Fixtures.stageTable(dir, "events", "st03_events")
    val sess = graft.api.GraftSession.empty(s)
    graft.streaming.EventStreams.graphUpsertSink(s, stage, sess,
      batch => batch.select(
        concat(lit("ev:"), col("event_id")).as("id"),
        col("event_type").as("label"),
        map(lit("user"), col("user_id").cast("string")).as("properties")))
    sess.graph.vertices
      .select(col("id"), col("label"),
        element_at(col("properties"), "user").as("uid"))
      .orderBy(col("id"))
  }

  private val memSink = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming exact dedup — the stream form of d01: documents flow
    * through a file-source stream into Spark's STATEFUL dropDuplicates
    * (state-store-backed, the operator a 100 TB ingest pipeline would
    * run), and the surviving fingerprint SET is hash-compared against
    * batch DISTINCT ground truth. The fingerprint set is deterministic
    * regardless of arrival order — exactly why the gate compares
    * fingerprints, not representative doc ids. At production scale the
    * state is bounded with an event-time watermark / fingerprint TTL;
    * the parquet fixture has no event time, so state here is unbounded
    * but finite. */
  val st04 = QueryDef.sql("st04_stream_dedup",
    """SELECT DISTINCT
      |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |FROM documents ORDER BY fp""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types._
    val stage = Fixtures.stageTable(dir, "documents", "st04_docs")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val name = s"st04_dedup_${memSink.incrementAndGet()}"
    val q = s.readStream.schema(schema).parquet(stage)
      .select(graft.functions.TextOps.fingerprint(col("text")).as("fp"))
      .dropDuplicates("fp")
      .writeStream.format("memory").queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    q.processAllAvailable()
    q.stop()
    s.table(name).orderBy(col("fp"))
  }

  /** Watermark-BOUNDED streaming dedup: dropDuplicatesWithinWatermark
    * keeps state only for keys younger than the watermark — the 100 TB
    * streaming-dedup plan (st04's plain dropDuplicates state grows
    * forever). Emitting just the key columns makes which-row-survives
    * irrelevant, so the surviving key set must equal batch DISTINCT. */
  val st07 = QueryDef.sql("st07_stream_dedup_watermark",
    """SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type
      |FROM events ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    val stage = Fixtures.stageTable(dir, "events", "st07_events")
    val name = s"st07_dedup_${memSink.incrementAndGet()}"
    graft.streaming.EventStreams.runToMemory(s, stage, name,
        ev => ev.withWatermark("ts", "1 hour")
          .select(col("user_id"), col("event_type"), col("ts"))
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type")),
        statePartitions = Some(8))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Stream-stream interval join through a REAL Structured Streaming
    * query (two watermarked sides, equi-key + event-time-range state
    * join): clicks matched to the same user's views in the preceding
    * hour, hash-checked against the relational join. */
  val st05 = QueryDef.sql("st05_stream_stream_join",
    """SELECT c.event_id AS click_id, v.event_id AS view_id
      |FROM events c JOIN events v
      |  ON c.user_id = v.user_id
      | AND c.event_type = 'click' AND v.event_type = 'view'
      | AND v.ts >= c.ts - INTERVAL 3600 SECOND AND v.ts <= c.ts
      |ORDER BY click_id, view_id""".stripMargin) { (s, dir) =>
    val stage = Fixtures.stageTable(dir, "events", "st05_events")
    val name = s"st05_join_${memSink.incrementAndGet()}"
    graft.streaming.EventStreams.runToMemory(s, stage, name,
        ev => graft.streaming.EventStreams.clickViewJoin(ev, 3600),
        statePartitions = Some(8))
      .orderBy(col("click_id"), col("view_id"))
  }

  /** List subscript through the full stack: split + 0-based index
    * (DuckDB lists are 1-based — the oracle indexes [2]). */
  val cy20 = QueryDef.sql("cy20_list_subscript",
    """SELECT string_split(c_name, '#')[2] AS num
      |FROM customer WHERE c_mktsegment = 'HOUSEHOLD'
      |ORDER BY num""".stripMargin) {
    run("""MATCH (c:customer) WHERE c.mktsegment = 'HOUSEHOLD'
          |RETURN split(c.name, '#')[1] AS num ORDER BY num"""
      .stripMargin)(_, _)
  }

  /** CALL { } subquery through the full stack: an uncorrelated inner
    * MATCH cross-products with every outer row (openCypher CALL
    * semantics), pinned against the equivalent SQL cross join. */
  val cy21 = QueryDef.sql("cy21_call_subquery",
    """SELECT r_name AS region, n_name AS nation
      |FROM region, (SELECT n_name FROM nation
      |              WHERE substr(n_name, 1, 8) = 'NATION_1')
      |ORDER BY region, nation""".stripMargin) {
    run("""MATCH (r:region)
          |CALL { MATCH (n:nation) WHERE n.name STARTS WITH 'NATION_1'
          |       RETURN n.name AS nation }
          |RETURN r.name AS region, nation ORDER BY region, nation"""
      .stripMargin)(_, _)
  }

  /** Quantified list predicates any/all/none/single(x IN xs WHERE …)
    * through the full stack, each summarized over the whole customer
    * table (the DuckDB oracle states them as list_filter cardinality
    * conditions). */
  val cy22 = QueryDef.sql("cy22_quantifiers",
    """SELECT
      |  CAST(sum(CASE WHEN len(list_filter(string_split(c_name, '#'),
      |    w -> w LIKE '%7')) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_any,
      |  CAST(sum(CASE WHEN len(list_filter(string_split(c_name, '#'),
      |    w -> w LIKE '%7')) = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n_none,
      |  CAST(sum(CASE WHEN len(list_filter(string_split(c_name, '#'),
      |    w -> w LIKE '%7')) = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    AS n_single,
      |  CAST(sum(CASE WHEN len(list_filter(string_split(c_name, '#'),
      |      w -> NOT (w LIKE '%99'))) = len(string_split(c_name, '#'))
      |    THEN 1 ELSE 0 END) AS DOUBLE) AS n_all
      |FROM customer""".stripMargin) {
    run("""MATCH (c:customer)
          |RETURN
          |  sum(CASE WHEN any(w IN split(c.name, '#') WHERE w ENDS WITH
          |    '7') THEN 1 ELSE 0 END) AS n_any,
          |  sum(CASE WHEN none(w IN split(c.name, '#') WHERE w ENDS WITH
          |    '7') THEN 1 ELSE 0 END) AS n_none,
          |  sum(CASE WHEN single(w IN split(c.name, '#') WHERE w ENDS
          |    WITH '7') THEN 1 ELSE 0 END) AS n_single,
          |  sum(CASE WHEN all(w IN split(c.name, '#') WHERE NOT w ENDS
          |    WITH '99') THEN 1 ELSE 0 END) AS n_all"""
      .stripMargin)(_, _)
  }

  /** Pattern comprehension `[(n)-[:T]->(r) | n.name]` through the full
    * stack: decorrelated to one grouped collect + left join (never a
    * per-row probe), then UNWOUND so the oracle pins every element as a
    * plain string column. */
  val cy23 = QueryDef.sql("cy23_pattern_comprehension",
    """SELECT r_name AS region, n_name AS nation
      |FROM region JOIN nation ON n_regionkey = r_regionkey
      |ORDER BY region, nation""".stripMargin) {
    run("""MATCH (r:region)
          |WITH r.name AS region, [(n)-[:IN_REGION]->(r) | n.name]
          |  AS nations
          |UNWIND nations AS nation
          |RETURN region, nation ORDER BY region, nation"""
      .stripMargin)(_, _)
  }

  /** FOREACH through the full stack: every node on the matched paths
    * into EUROPE gets tagged — one explode + one equi-join + one
    * set-oriented property upsert, never per-element statements. */
  val cy24 = QueryDef.sql("cy24_foreach",
    """SELECT 'n:' || n_nationkey AS id,
      |  CASE WHEN r_name = 'EUROPE' THEN 'yes' END AS tagged
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY id""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    val g0 = TpchGraph(Tables(s, dir))
    val g1 = Cypher.execute(g0,
      """MATCH p = (n:nation)-[:IN_REGION]->(r:region {name: 'EUROPE'})
        |FOREACH (x IN nodes(p) | SET x.tagged = 'yes')""".stripMargin)
      .state
    Cypher.query(g1,
      """MATCH (n:nation) RETURN id(n) AS id, n.tagged AS tagged
        |ORDER BY id""".stripMargin)
  }

  /** Pattern predicate `WHERE NOT (c)-[:PLACED]->()` (openCypher
    * EXISTS sugar) through the full stack — decorrelates to the same
    * grouped-count left join as EXISTS{}, pinned against SQL NOT
    * EXISTS. */
  val cy25 = QueryDef.sql("cy25_pattern_predicate",
    """SELECT CAST(count(*) AS BIGINT) AS n FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey)""".stripMargin) {
    run("""MATCH (c:customer) WHERE NOT (c)-[:PLACED]->()
          |RETURN count(*) AS n""".stripMargin)(_, _)
  }

  /** Statistical aggregates through the full Cypher stack: stDev /
    * stDevP / percentileCont over the CONTAINS edges' linenumber per
    * part brand (floor-truncation in BOTH dialects absorbs ulp drift
    * of the merged-variance forms). */
  val cy26 = QueryDef.sql("cy26_stat_aggregates",
    s"""SELECT p_brand AS brand,
       |  ${graft.queries.Det.floor4Sql(
            "stddev_samp(CAST(l_linenumber AS DOUBLE))")} AS sd,
       |  ${graft.queries.Det.floor4Sql(
            "stddev_pop(CAST(l_linenumber AS DOUBLE))")} AS sdp,
       |  ${graft.queries.Det.floor4Sql(
            "quantile_cont(CAST(l_linenumber AS DOUBLE), 0.5)")} AS med
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |GROUP BY 1 ORDER BY brand""".stripMargin) {
    run("""MATCH (o:order)-[c:CONTAINS]->(p:part)
          |RETURN p.brand AS brand,
          |  floor(stDev(c.linenumber) * 10000) / 10000.0 AS sd,
          |  floor(stDevP(c.linenumber) * 10000) / 10000.0 AS sdp,
          |  floor(percentileCont(c.linenumber, 0.5) * 10000) / 10000.0
          |    AS med
          |ORDER BY brand""".stripMargin)(_, _)
  }

  /** Sliding-window aggregation through a REAL streaming query
    * (1 h windows every 15 min, Complete mode so the final open windows
    * emit on a bounded source). The oracle expands each event into its
    * ceil(len/slide)=4 covering windows with generate_series — both
    * engines align window starts to the epoch slide grid, so the rows
    * must hash-match exactly. */
  val st06 = QueryDef.sql("st06_sliding_windows",
    """SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, CAST(count(*) AS BIGINT) AS n
      |FROM (
      |  SELECT time_bucket(INTERVAL '15 minutes', ts)
      |           - k * INTERVAL '15 minutes' AS window_start, event_type
      |  FROM events, (SELECT unnest(generate_series(0, 3)) AS k))
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val stage = Fixtures.stageTable(dir, "events", "st06_events")
    val name = s"st06_slide_${memSink.incrementAndGet()}"
    graft.streaming.EventStreams.runToMemory(s, stage, name,
        ev => graft.streaming.EventStreams
          .slidingAggregates(ev, "1 hour", "15 minutes", "10 minutes")
          .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"), col("event_type"), col("n")),
        outputMode = org.apache.spark.sql.streaming.OutputMode.Complete,
        statePartitions = Some(8))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Streaming ordered funnel (flatMapGroupsWithState): per-user stage
    * prefix as state, one emission per user at completion. The oracle is
    * the BATCH funnel restricted to completed users — streaming/batch
    * parity is the pinned claim (events stream in event-time order from
    * the parquet source, the contract the operator documents). */
  val st09 = QueryDef.sql("st09_stream_funnel",
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (
      |  SELECT s1.user_id, t1,
      |    min(CASE WHEN e.ts >= t1 THEN e.ts END) AS t2
      |  FROM s1 LEFT JOIN events e
      |    ON e.user_id = s1.user_id AND e.event_type = 'click'
      |  GROUP BY 1, 2),
      |s3 AS (
      |  SELECT s2.user_id, t1, t2,
      |    min(CASE WHEN e.ts >= t2 THEN e.ts END) AS t3
      |  FROM s2 LEFT JOIN events e
      |    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
      |  GROUP BY 1, 2, 3)
      |SELECT user_id AS user, epoch_ms(t1) AS t1, epoch_ms(t2) AS t2,
      |  epoch_ms(t3) AS t3
      |FROM s3 WHERE t3 IS NOT NULL ORDER BY user""".stripMargin) {
      (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    // streaming file sources need a directory, not a single file
    val tmp = Fixtures.stageTable(dir, "events", "st09_events")
    graft.streaming.EventStreams.runToMemory(s, tmp,
        s"st09_funnel_${memSink.incrementAndGet()}",
        df => graft.streaming.EventStreams.funnelStream(df,
          Seq("view", "click", "purchase")))
      .select(col("user_id").as("user"),
        col("times_millis").getItem(0).as("t1"),
        col("times_millis").getItem(1).as("t2"),
        col("times_millis").getItem(2).as("t3"))
      .orderBy(col("user"))
  }

  /** Streaming approximate distinct (HLL sketch state in the streaming
    * aggregation — fixed-size per window regardless of cardinality,
    * unlike exact distinct whose state grows with every user id).
    * Certified per window against the exact batch count (≤10%; at these
    * cardinalities the 0.05-rsd sketch sits well inside). */
  val st10 = QueryDef.sql("st10_stream_approx_distinct",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
      |    AS window_start,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      |  CAST(1 AS BIGINT) AS certified
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val tmp = Fixtures.stageTable(dir, "events", "st10_events")
    // Complete mode: the final (max-event-time) window never finalizes
    // under Append — the watermark can't pass its end — so the gate
    // reads the full window table each trigger instead
    val est = graft.streaming.EventStreams.runToMemory(s, tmp,
        s"st10_hll_${memSink.incrementAndGet()}",
        df => graft.streaming.EventStreams.windowedApproxDistinct(
          df, "user_id", watermark = "0 seconds"),
        org.apache.spark.sql.streaming.OutputMode.Complete,
        // few hundred hour-windows of sketch state: 32 state-store
        // partitions cost more in per-store overhead than they win
        statePartitions = Some(4))
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("n_approx"))
    val exact = Tables(s, dir).events
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("window_start"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(est, Seq("window_start"), "left")
      .select(col("window_start"), col("n_exact"),
        (col("n_approx").isNotNull &&
          abs(col("n_approx") - col("n_exact")) <=
            greatest(lit(3.0), col("n_exact") * 0.1))
          .cast("long").as("certified"))
      .orderBy(col("window_start"))
  }

  /** Streaming sequence-pattern matching vs the batch regex: the
    * bounded two-state automaton (one (pos, count) pair per user — the
    * state that stays O(1) while the batch signature string grows with
    * history) must produce exactly the per-user non-overlapping
    * `view click* purchase` match counts the q36 regex finds. Append
    * mode: one row per completed match, aggregated per user. */
  val st12 = QueryDef.sql("st12_stream_seq_match",
    """WITH sig AS (
      |  SELECT user_id AS key,
      |    string_agg(CASE event_type WHEN 'view' THEN 'v'
      |        WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
      |        WHEN 'signup' THEN 's' WHEN 'error' THEN 'e'
      |        ELSE '?' END,
      |      '' ORDER BY ts, event_id) AS sig
      |  FROM events GROUP BY 1),
      |m AS (SELECT key,
      |  CAST(len(regexp_extract_all(sig, 'vc*p')) AS BIGINT)
      |    AS n_matches FROM sig)
      |SELECT key, n_matches FROM m WHERE n_matches > 0
      |ORDER BY key""".stripMargin) { (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val tmp = Fixtures.stageTable(dir, "events", "st12_events")
    graft.streaming.EventStreams.runToMemory(s, tmp,
        s"st12_seq_${memSink.incrementAndGet()}",
        df => graft.streaming.EventStreams.sequenceMatchStream(
          df, "view", Set("click"), "purchase"))
      .groupBy(col("user_id").as("key"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("key"))
  }

  /** Streaming attribution vs the batch window: bounded per-user state
    * (two (type, ms) pairs) must reproduce q37's per-conversion
    * first/last-touch assignment exactly — same oracle, restricted to
    * the same columns. */
  val st13 = QueryDef.sql("st13_stream_attribution",
    """WITH x AS (
      |  SELECT event_id, user_id, event_type,
      |    last_value(CASE WHEN event_type IN ('view', 'click', 'signup')
      |      THEN event_type END IGNORE NULLS) OVER w AS lt_type,
      |    last_value(CASE WHEN event_type IN ('view', 'click', 'signup')
      |      THEN ts END IGNORE NULLS) OVER w AS lt_ts,
      |    first_value(CASE WHEN event_type IN ('view', 'click', 'signup')
      |      THEN event_type END IGNORE NULLS) OVER w AS ft_type,
      |    first_value(CASE WHEN event_type IN ('view', 'click', 'signup')
      |      THEN ts END IGNORE NULLS) OVER w AS ft_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id AS conversion_id, user_id AS user,
      |  lt_type AS last_touch, epoch_ms(lt_ts) AS last_touch_ms,
      |  ft_type AS first_touch, epoch_ms(ft_ts) AS first_touch_ms
      |FROM x WHERE event_type = 'purchase'
      |ORDER BY conversion_id""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    val tmp = Fixtures.stageTable(dir, "events", "st13_events")
    graft.streaming.EventStreams.runToMemory(s, tmp,
        s"st13_attr_${memSink.incrementAndGet()}",
        df => graft.streaming.EventStreams.attributionStream(
          df, Set("view", "click", "signup"), "purchase"))
      .orderBy(col("conversion_id"))
  }

  /** Streaming approximate percentile per window (quantile-sketch
    * state in the streaming aggregation — fixed size per window at any
    * cardinality, the quantile analogue of st10's HLL argument). Both
    * sides use ELEMENT (discrete) percentile semantics: on these
    * window sizes the sketch is in its exact regime, so the streamed
    * median element must BE the oracle's quantile_disc element —
    * the value itself is hash-pinned, not just a tolerance bit. */
  val st14 = QueryDef.sql("st14_stream_approx_percentile",
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
       |    AS window_start,
       |  quantile_disc(value, 0.5) AS p50_stream
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val tmp = Fixtures.stageTable(dir, "events", "st14_events")
    graft.streaming.EventStreams.runToMemory(s, tmp,
        s"st14_pct_${memSink.incrementAndGet()}",
        df => df.withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(expr("approx_percentile(value, 0.5, 10000)")
            .as("p50_stream"))
          .select(col("window.start").as("window_start"),
            col("p50_stream")),
        org.apache.spark.sql.streaming.OutputMode.Complete,
        statePartitions = Some(4))
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("p50_stream"))
      .orderBy(col("window_start"))
  }

  /** STREAM-STATIC dimension join (the enrichment pattern every
    * production stream runs): streamed events join the static customer
    * dimension — broadcast, so each micro-batch pays a map-side lookup
    * and no state — then aggregate per segment in Complete mode. The
    * final table must equal the batch join+rollup. */
  val st15 = QueryDef.sql("st15_stream_static_join",
    """SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_events
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1 ORDER BY segment""".stripMargin) { (s, dir) =>
    val stage = Fixtures.stageTable(dir, "events", "st15_events")
    val cust = Tables(s, dir).customer
      .select(col("c_custkey"), col("c_mktsegment"))
    val name = s"st15_enrich_${memSink.incrementAndGet()}"
    graft.streaming.EventStreams.runToMemory(s, stage, name,
        ev => ev
          .join(broadcast(cust), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_events")),
        outputMode = org.apache.spark.sql.streaming.OutputMode.Complete,
        statePartitions = Some(8))
      .orderBy(col("segment"))
  }

  /** WITH … ORDER BY … LIMIT … WHERE through the full stack: per
    * openCypher the grammar order is the EVALUATION order, so the WHERE
    * sub-clause filters the post-pagination row set (top-5 by acctbal,
    * then the filter runs WITHIN those 5). The wrong order — filter
    * before LIMIT — admits lower-balance rows into the top-5 and
    * hash-mismatches; this pins the round-3 advisor fix end-to-end. */
  val cy28 = QueryDef.sql("cy28_with_pagination_where",
    """SELECT c_name AS name FROM (
      |  SELECT c_name, c_mktsegment FROM customer
      |  ORDER BY c_name DESC LIMIT 5)
      |WHERE c_mktsegment = 'HOUSEHOLD' ORDER BY name""".stripMargin) {
    run("""MATCH (c:customer)
          |WITH c ORDER BY c.name DESC LIMIT 5
          |  WHERE c.mktsegment = 'HOUSEHOLD'
          |RETURN c.name AS name ORDER BY name""".stripMargin)(_, _)
  }

  /** Correlated AGGREGATING CALL subquery through the full stack: per
    * outer row, the inner MATCH aggregates — decorrelated to one
    * grouped aggregate + a LEFT join back on the row tag, with Cypher
    * empty-aggregate semantics (regions with no NATION_7 get count 0,
    * not a dropped row). The oracle is the equivalent outer-join
    * conditional count. */
  val cy29 = QueryDef.sql("cy29_call_aggregate",
    """SELECT r_name AS region,
      |  CAST(count(CASE WHEN n_name = 'NATION_7' THEN 1 END) AS BIGINT)
      |    AS n7
      |FROM region LEFT JOIN nation ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY region""".stripMargin) {
    run("""MATCH (r:region)
          |CALL { WITH r MATCH (n:nation)-[:IN_REGION]->(r)
          |       WHERE n.name = 'NATION_7'
          |       RETURN count(*) AS n7 }
          |RETURN r.name AS region, n7 ORDER BY region""".stripMargin)(_, _)
  }

  /** D4 MULTI-LABEL MATCH through the full stack: a second label is
    * added by predicate (SET n:audited), then `(n:nation:audited)`
    * must match only vertices carrying BOTH labels — the conjunctive
    * multi-label semantics of reference cypher_parser.rs:167-189. The
    * oracle reproduces the predicate relationally. */
  val cy30 = QueryDef.sql("cy30_multi_label_match",
    """SELECT n_name AS name FROM nation
      |WHERE substr(n_name, 1, 8) = 'NATION_1' ORDER BY name""".stripMargin) {
    (s, dir) =>
      implicit val sp: SparkSession = s
      val g1 = Cypher.execute(TpchGraph(Tables(s, dir)),
        """MATCH (n:nation) WHERE n.name STARTS WITH 'NATION_1'
          |SET n:audited""".stripMargin).state
      Cypher.query(g1,
        "MATCH (n:nation:audited) RETURN n.name AS name ORDER BY name")
  }

  /** D13 BIDIRECTIONAL/CYCLIC PATTERN through the full stack
    * (reference QE:89-92 `(a)-[:KNOWS]->(b), (b)-[:KNOWS]->(a)`): PEER
    * edges are first CREATEd between same-nation suppliers (both
    * directions, one per matched ordered pair), then the comma-joined
    * cyclic pattern must bind (a,b) only where BOTH directed edges
    * exist — the reversed-pair self-join. The oracle is the same-nation
    * supplier self-join on the base table. */
  val cy31 = QueryDef.sql("cy31_bidirectional_pattern",
    """SELECT 's:' || s1.s_suppkey AS a_id, 's:' || s2.s_suppkey AS b_id
      |FROM supplier s1 JOIN supplier s2
      |  ON s1.s_nationkey = s2.s_nationkey
      | AND s1.s_suppkey <> s2.s_suppkey
      |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    val g1 = Cypher.execute(TpchGraph(Tables(s, dir)),
      """MATCH (s1:supplier)-[:IN_NATION]->(n:nation)
        |        <-[:IN_NATION]-(s2:supplier)
        |WHERE id(s1) <> id(s2)
        |CREATE (s1)-[:PEER]->(s2)""".stripMargin).state
    Cypher.query(g1,
      """MATCH (a:supplier)-[:PEER]->(b:supplier), (b)-[:PEER]->(a)
        |RETURN id(a) AS a_id, id(b) AS b_id
        |ORDER BY a_id, b_id""".stripMargin)
  }

  /** allShortestPaths through the full Cypher stack: EVERY minimal
    * route from one customer to each part it ordered (c-PLACED->o
    * -CONTAINS->p is the only route shape, so every shortest path has
    * length 2 and the route count per part is the number of (order,
    * lineitem) ways to reach it — including parallel CONTAINS edges
    * from repeated lineitems, which the all-paths reconstruction must
    * keep distinct by edge id). Lengths AND counts pinned. */
  val cy32 = QueryDef.sql("cy32_all_shortest_paths",
    """SELECT 'p:' || l_partkey AS part_id, CAST(2 AS BIGINT) AS len,
      |  CAST(count(*) AS BIGINT) AS n_routes
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE o_custkey = 1
      |GROUP BY 1 ORDER BY part_id""".stripMargin) {
    run("""MATCH (a:customer) WHERE id(a) = 'c:1'
          |MATCH p = allShortestPaths((a)-[*..4]->(b:part))
          |RETURN id(b) AS part_id, toInteger(length(p)) AS len,
          |       count(*) AS n_routes
          |ORDER BY part_id""".stripMargin)(_, _)
  }

  /** WEIGHTED shortest paths through Cypher — the GDS-style procedure
    * surface over GraphXBridge.weightedSssp (Pregel relaxation):
    * single-source distances where CONTAINS edges cost their
    * `linenumber` property and PLACED edges (no property) cost 1.0.
    * Every part reachable from the customer is therefore pinned at
    * 1 + min(linenumber over its lineitems) — the oracle recomputes
    * exactly that relationally. */
  val cy33 = QueryDef.sql("cy33_weighted_sssp",
    """SELECT 'p:' || l_partkey AS target,
      |  CAST(1 + min(l_linenumber) AS BIGINT) AS cost
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE o_custkey = 1
      |GROUP BY 1 ORDER BY target""".stripMargin) {
    run("""CALL graft.sssp.weighted('c:1', 'linenumber')
          |YIELD id AS target, cost
          |WITH target, toInteger(cost) AS cost
          |WHERE target STARTS WITH 'p:'
          |RETURN target, cost ORDER BY target""".stripMargin)(_, _)
  }

  /** CHECKPOINT RECOVERY (exactly-once file sink): the stream processes
    * half the input, STOPS, more files arrive, and a NEW query restarts
    * from the same checkpoint — the sink must contain every event
    * exactly once (no reprocessing of committed batches, no loss). This
    * is the fault-tolerance contract a 100 TB ingest pipeline leans on;
    * the gate pins it end-to-end through a real parquet sink. */
  val st16 = QueryDef.sql("st16_checkpoint_recovery",
    """SELECT CAST(event_id AS BIGINT) AS event_id
      |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
    val base = java.nio.file.Files.createTempDirectory("st16")
    val stage = base.resolve("in")
    val out = base.resolve("out")
    val ckpt = base.resolve("ckpt")
    java.nio.file.Files.createDirectories(stage)
    val ev = Tables(s, dir).events.select(col("event_id"))
    def stageHalf(even: Boolean, tag: String): Unit =
      Fixtures.landSingleFile(
        ev.filter((col("event_id") % 2 === 0) === even), base, stage, tag)
    def runOnce(): Unit = {
      val q = s.readStream.schema("event_id BIGINT")
        .parquet(stage.toString)
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    stageHalf(even = true, "a")
    runOnce() // first incarnation: commits half the input
    stageHalf(even = false, "b")
    runOnce() // restarted incarnation: must pick up ONLY the new file
    Tables.readParquet(s, out.toString).orderBy(col("event_id"))
  }

  /** WATERMARK LATE-DATA SEMANTICS, pinned end-to-end: batch 1 advances
    * the watermark to max(ts₁) − 1h; batch 2 then arrives containing
    * genuinely late rows — rows whose 15-minute window already closed
    * are DROPPED (their counts must not change), while on-time rows
    * still aggregate; Append emits exactly the windows the final
    * watermark passed. The oracle replays the two-batch protocol in
    * closed form (admitted = batch 1 ∪ {batch 2 | window end > wm₁},
    * emitted = window end ≤ wm₂ — boundary relations verified
    * empirically against Spark's eviction). This is the streaming
    * correctness trap the 100 TB ingest design leans on: state is
    * bounded BECAUSE late data is dropped, and the gate proves exactly
    * what is lost. */
  val st17 = QueryDef.sql("st17_watermark_late_drop",
    """WITH a AS (SELECT ts, event_type FROM events
      |           WHERE event_id % 2 = 0),
      |wma AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM a),
      |wmb AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
      |admitted AS (
      |  SELECT ts, event_type FROM a
      |  UNION ALL
      |  SELECT e.ts, e.event_type FROM events e, wma
      |  WHERE e.event_id % 2 = 1
      |    AND time_bucket(INTERVAL '15 minutes', e.ts)
      |        + INTERVAL 15 MINUTE > wma.wm),
      |agg AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS ws,
      |          event_type, CAST(count(*) AS BIGINT) AS n
      |        FROM admitted GROUP BY 1, 2)
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, n
      |FROM agg, wmb WHERE ws + INTERVAL 15 MINUTE <= wmb.wm
      |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
    val base = java.nio.file.Files.createTempDirectory("st17")
    val stage = base.resolve("in")
    java.nio.file.Files.createDirectories(stage)
    val ev = Tables(s, dir).events
      .select(col("event_id"), col("ts"), col("event_type"))
    def stageHalf(even: Boolean, tag: String): Unit =
      Fixtures.landSingleFile(
        ev.filter((col("event_id") % 2 === 0) === even), base, stage, tag)
    stageHalf(even = true, "a")
    val name = s"st17_late_${memSink.incrementAndGet()}"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING")
        .parquet(stage.toString)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("event_type"), col("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      q.processAllAvailable() // batch 1: advances the watermark
      stageHalf(even = false, "b")
      q.processAllAvailable() // batch 2: late rows must be dropped
      q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name).orderBy(col("window_start"), col("event_type"))
  }

  /** Streaming Markov transition matrix vs the batch ground truth
    * (q50's oracle verbatim). The feed is deliberately adversarial to
    * state handling: the events table is split into THREE time-ranged
    * files delivered one micro-batch each (maxFilesPerTrigger=1, file
    * mtimes pin the order), so every user active across a boundary
    * exercises the carry-over — the stream must emit the
    * (last-event-of-batch-N → first-event-of-batch-N+1) transition
    * from its O(1) per-user state. An implementation that only counts
    * intra-batch adjacency loses those rows and hash-fails. */
  val st18 = QueryDef.sql("st18_stream_transitions",
    """WITH x AS (
      |  SELECT event_type AS src_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS dst_type
      |  FROM events),
      |m AS (SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS n
      |      FROM x WHERE dst_type IS NOT NULL GROUP BY 1, 2)
      |SELECT src_type, dst_type, n,
      |  CAST(sum(n) OVER (PARTITION BY src_type) AS BIGINT) AS src_total
      |FROM m ORDER BY src_type, dst_type""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    val base = java.nio.file.Files.createTempDirectory("st18")
    val stage = base.resolve("in")
    java.nio.file.Files.createDirectories(stage)
    val ev = Tables(s, dir).events.localCheckpoint()
    // three half-open time ranges [t0 + i·span/3, …) — chunk boundaries
    // are arbitrary for correctness (any time-ordered split must give
    // the same matrix); only their ORDER is contractual
    val mm = ev.agg(min(col("ts")).as("a"), max(col("ts")).as("b"))
      .head()
    val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val cut1 = new java.sql.Timestamp(t0 + (t1 - t0) / 3)
    val cut2 = new java.sql.Timestamp(t0 + 2 * (t1 - t0) / 3)
    val ranges = Seq(
      col("ts") < cut1,
      col("ts") >= cut1 && col("ts") < cut2,
      col("ts") >= cut2)
    ranges.zipWithIndex.foreach { case (cond, i) =>
      // mtime IS the file-source ordering: pin it explicitly
      Fixtures.landSingleFile(ev.filter(cond), base, stage, s"c$i",
        mtimeMs = Some(1000000L * (i + 1)))
    }
    graft.streaming.EventStreams.runToMemory(s, stage.toString,
        s"st18_trans_${memSink.incrementAndGet()}",
        df => graft.streaming.EventStreams.transitionStream(df),
        statePartitions = Some(8), maxFilesPerTrigger = Some(1))
      .groupBy(col("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("src_total", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("src_type"))))
      .orderBy(col("src_type"), col("dst_type"))
  }

  /** Stream-stream LEFT OUTER interval join, eviction semantics pinned
    * end-to-end: inner matches emit as they form, but an unmatched
    * click emits its (click_id, NULL) row ONLY when the watermark
    * passes its last possible match time and join state is evicted —
    * Append mode cannot know "no match" any earlier. The closed-form
    * boundary (probed empirically, dev.ProbeOuterJoin): the final
    * watermark is min over BOTH watermarked columns of the ms-FLOORED
    * max event time minus the 1 h delay (Spark tracks event-time stats
    * in milliseconds), and a click is evicted iff cts < wm strictly.
    * Clicks the final watermark never passes stay in state and are
    * NEVER emitted — the streaming-semantics difference a batch LEFT
    * JOIN hides, and exactly what bounds join state at 100 TB. The
    * two-batch time-ordered replay advances the watermark mid-stream
    * so eviction actually fires; time-ordered halves mean no row is
    * ever late (st05 pins the inner pair set; st17 pins late-drop). */
  val st19 = QueryDef.sql("st19_stream_outer_join",
    """WITH clicks AS (
      |  SELECT event_id AS click_id, user_id, ts AS cts
      |  FROM events WHERE event_type = 'click'),
      |views AS (
      |  SELECT event_id AS view_id, user_id AS vuid, ts AS vts
      |  FROM events WHERE event_type = 'view'),
      |wm AS (
      |  SELECT least(
      |      (SELECT date_trunc('milliseconds', max(cts)) FROM clicks),
      |      (SELECT date_trunc('milliseconds', max(vts)) FROM views))
      |    - INTERVAL 1 HOUR AS w),
      |pairs AS (
      |  SELECT c.click_id, v.view_id
      |  FROM clicks c JOIN views v ON c.user_id = v.vuid
      |   AND v.vts >= c.cts - INTERVAL 3600 SECOND AND v.vts <= c.cts)
      |SELECT click_id, view_id FROM pairs
      |UNION ALL
      |SELECT c.click_id, CAST(NULL AS BIGINT) AS view_id
      |FROM clicks c, wm
      |WHERE c.cts < wm.w
      |  AND NOT EXISTS (SELECT 1 FROM pairs p WHERE p.click_id = c.click_id)
      |ORDER BY click_id, view_id NULLS FIRST""".stripMargin) { (s, dir) =>
    val halves = st19Halves(s, dir)
    // the SOURCE dir must be fresh per run (file b arrives mid-stream),
    // but the expensive half writes memoize per (fixture, dir): per-run
    // cost is two Files.copy
    val base = java.nio.file.Files.createTempDirectory("st19")
    val stage = base.resolve("in")
    java.nio.file.Files.createDirectories(stage)
    def arrive(tag: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(halves, s"$tag.parquet"),
      stage.resolve(s"$tag.parquet"))
    arrive("a")
    val name = s"st19_ojoin_${memSink.incrementAndGet()}"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = s.readStream
        .schema(
          "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING")
        .parquet(stage.toString)
        .transform(e =>
          graft.streaming.EventStreams.clickViewJoinOuter(e, 3600))
        .writeStream.format("memory").queryName(name)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      q.processAllAvailable() // batch 1: advances the watermark
      arrive("b")
      q.processAllAvailable() // batch 2
      // ADVICE r9: the eviction (NULL) rows ride a NO-DATA batch that
      // processAllAvailable does not contractually await — stopping here
      // could intermittently miss them. Poll until the last committed
      // batch reports the final watermark (min over both watermarked
      // columns of the ms-floored max event time minus the 1 h delay —
      // the same closed form the oracle's wm CTE encodes); progress is
      // posted after the batch commits, so reaching it means the
      // eviction rows are in the sink. Bounded: fail loudly rather than
      // hang or silently under-emit.
      val expectMs = {
        val r = Tables(s, dir).events
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("event_type")).agg(max(col("ts")).as("m"))
          .collect()
          .map(x => x.getString(0) -> x.getTimestamp(1).getTime).toMap
        math.min(r("click"), r("view")) - 3600L * 1000 // getTime ms-floors
      }
      def wmMs: Long = Option(q.lastProgress)
        .flatMap(p => Option(p.eventTime.get("watermark")))
        .map(w => java.time.Instant.parse(w).toEpochMilli)
        .getOrElse(Long.MinValue)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (wmMs < expectMs && System.nanoTime() < deadline)
        Thread.sleep(50)
      require(wmMs >= expectMs,
        s"st19: committed watermark $wmMs never reached expected " +
          s"$expectMs within 60 s — the eviction no-data batch did not " +
          "run; stopping now would silently drop outer-join rows")
      q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(name)
      .orderBy(col("click_id"), col("view_id").asc_nulls_first)
  }.withStage((s, dir) => { st19Halves(s, dir); () })

  /** st19's two time-ordered event halves, memoized per (fixture, dir):
    * the cut is the 2/3 point of the time span — batch 1 must advance
    * the watermark past some unmatched clicks while later ones remain
    * in state, and time-ordered halves mean no row is ever late. */
  private def st19Halves(s: SparkSession, dir: String): String =
    Fixtures.staged("st19_halves", dir) { tmp =>
      val dest = java.nio.file.Paths.get(tmp)
      val scratch = java.nio.file.Files.createTempDirectory("st19_scratch")
      val ev = Tables(s, dir).events
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
        .localCheckpoint()
      val mm = ev.agg(min(col("ts")).as("a"), max(col("ts")).as("b")).head()
      val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      val cut = new java.sql.Timestamp(t0 + (t1 - t0) * 2 / 3)
      Fixtures.landSingleFile(ev.filter(col("ts") < lit(cut)),
        scratch, dest, "a")
      Fixtures.landSingleFile(ev.filter(col("ts") >= lit(cut)),
        scratch, dest, "b")
    }

  /** JOIN-STATE CHECKPOINT RECOVERY: incarnation 1 runs the watermarked
    * stream-stream interval join over the time-ordered FIRST half and
    * STOPS; the second half arrives; a NEW query restarts from the same
    * checkpoint. Every (click ≥ cut, view < cut) pair within the hour
    * window can only be produced from join state RESTORED off the
    * state-store checkpoint — state loss drops those pairs, batch
    * reprocessing duplicates committed ones, and either hash-fails
    * against the plain batch-join oracle. st16 pins the same contract
    * for a stateless sink; this is the stateful-operator half a 100 TB
    * pipeline actually leans on. (Time-ordered halves mean no row is
    * late; views old enough to be evicted between incarnations — vts +
    * 1 h < wm₁ — are out of window for every second-half click, so the
    * final pair set is exactly the batch join.) */
  val st20 = QueryDef.sql("st20_join_state_recovery",
    """SELECT c.event_id AS click_id, v.event_id AS view_id
      |FROM events c JOIN events v
      |  ON c.user_id = v.user_id
      | AND c.event_type = 'click' AND v.event_type = 'view'
      | AND v.ts >= c.ts - INTERVAL 3600 SECOND AND v.ts <= c.ts
      |ORDER BY click_id, view_id""".stripMargin) { (s, dir) =>
    val halves = st20Halves(s, dir)
    val base = java.nio.file.Files.createTempDirectory("st20")
    val stage = base.resolve("in")
    val out = base.resolve("out")
    val ckpt = base.resolve("ckpt")
    java.nio.file.Files.createDirectories(stage)
    def arrive(tag: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(halves, s"$tag.parquet"),
      stage.resolve(s"$tag.parquet"))
    // state-store count is fixed by the FIRST incarnation; both runs
    // pin the same shuffle-partition count
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    def runOnce(): Unit = {
      val q = s.readStream
        .schema(
          "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING")
        .parquet(stage.toString)
        .transform(e => graft.streaming.EventStreams.clickViewJoin(e, 3600))
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    try {
      arrive("a")
      runOnce() // incarnation 1: half the input, join state checkpointed
      arrive("b")
      runOnce() // restart: cross-cut pairs need the RESTORED view state
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    Tables.readParquet(s, out.toString)
      .orderBy(col("click_id"), col("view_id"))
  }.withStage((s, dir) => { st20Halves(s, dir); () })

  /** st20's two event halves, memoized per (fixture, dir). The cut must
    * STRADDLE at least one joined pair or the recovery property is
    * vacuous (a midpoint cut splits zero pairs at every tested SF — the
    * 1 h window is tiny against the stream's span): cut at the latest
    * click with a strictly-earlier matching view, so that click lands
    * in incarnation 2 while its view(s) — within the watermark, see the
    * gate scaladoc — sit only in incarnation 1's state. */
  private def st20Halves(s: SparkSession, dir: String): String =
    Fixtures.staged("st20_halves", dir) { tmp =>
      val dest = java.nio.file.Paths.get(tmp)
      val scratch = java.nio.file.Files.createTempDirectory("st20_scratch")
      val ev = Tables(s, dir).events
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
        .localCheckpoint()
      val cutRow = ev.filter(col("event_type") === "click").alias("c")
        .join(ev.filter(col("event_type") === "view").alias("v"),
          col("c.user_id") === col("v.user_id") &&
            col("v.ts") >= col("c.ts") - expr("INTERVAL 3600 SECONDS") &&
            col("v.ts") < col("c.ts"))
        .agg(max(col("c.ts"))).head()
      require(!cutRow.isNullAt(0), "st20: no click/view pair with a " +
        "strictly earlier view — the recovery cut would straddle nothing")
      val cut = cutRow.getTimestamp(0)
      Fixtures.landSingleFile(ev.filter(col("ts") < lit(cut)),
        scratch, dest, "a")
      Fixtures.landSingleFile(ev.filter(col("ts") >= lit(cut)),
        scratch, dest, "b")
    }

  val all: Seq[QueryDef] =
    Seq(cy01, cy02, cy03, cy04, cy05, cy06, cy07, cy08, cy09, cy10, cy11,
      cy12, cy13, cy14, cy15, cy16, cy17, cy18, cy19, cy20, cy21, cy22,
      cy23, cy24, cy25, cy26, cy27, cy28, cy29, cy30, cy31, cy32, cy33,
      st01, st02, st03, st04, st05, st06, st07,
      st09, st10, st12, st13, st14, st15, st16, st17, st18, st19, st20,
      tj01, tj02, tj03, tj04, tj05, tj06)
}
