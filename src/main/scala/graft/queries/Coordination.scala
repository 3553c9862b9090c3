package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch re-expression of the reference's coordination/state semantics
  * (SURVEY.md §2.A). The reference (riptano/kafka-cassandra-plugin)
  * maintains KV storage, TTL leader election and group membership as
  * Cassandra tables mutated by a stream of claims/renewals/puts
  * (`leader/election/CassandraLeaderElection.scala:46-170`,
  * `listener/registry/CassandraListenerRegistry.scala:28-66`); watchers
  * poll and diff those tables. Spark-first, each capability is a query
  * over the changelog: key = user_id, namespace/resource/group =
  * event_type, payload = value, event time = ts, tiebreak = event_id.
  *
  * Scale notes (100 TB): every operator below does exactly ONE hash
  * shuffle on its key (the window partition / groupBy key); no driver
  * state, no collect. TTL liveness uses integer microsecond arithmetic
  * (unix_micros) — exact, order-independent, codegen-friendly.
  */
object Coordination {

  /** Default liveness TTL — the reference makes this per-deployment
    * config (`plugin.cassandra.le.renew.ttl.period.ms`,
    * util/Config.scala:62-66); every TTL-dependent query below has a
    * `*Ttl(ttlUs)` factory, and the bare `val` is the default
    * instance the driver gate runs. Default = 1h (SURVEY §3).
    */
  val DefaultTtlMicros = 3600L * 1000000L
  /** Default keyset-watcher poll period (`plugin.cassandra.lr.pull
    * .period.ms` analog): one day of event time.
    */
  val DefaultPullPeriodMicros = 86400L * 1000000L

  private def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)

  // Latest-wins ordering used everywhere: event time then log position.
  private val byKeyDesc = Window
    .partitionBy(col("event_type"), col("user_id"))
    .orderBy(col("ts").desc, col("event_id").desc)
  private val byKeyAsc = Window
    .partitionBy(col("event_type"), col("user_id"))
    .orderBy(col("ts").asc, col("event_id").asc)

  // --- A1: compacted KV snapshot (Storage.fetch over the whole keyspace) --
  // Reference: kv table point-lookup; replayed, the table IS "latest value
  // per key". One shuffle on (namespace, key); row_number + filter.
  /** A1's body over an arbitrary changelog frame. The window's
    * ClusteredDistribution(event_type, user_id) is satisfied by any
    * hash partitioning on a SUBSET of those keys, so over a changelog
    * bucketed by user_id ([[graft.Bucketing.ensureEventsBucketed]])
    * this plans with ZERO Exchange — the A-family co-location dial,
    * spec-proved in BucketingSpec.
    */
  private[graft] def kvSnapshotOver(events: DataFrame): DataFrame =
    events
      .withColumn("rn", row_number().over(byKeyDesc))
      .filter(col("rn") === 1)
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("value"), col("ts"))

  val kvSnapshot = QueryDef.oracled(
    "kv_snapshot",
    """WITH ranked AS (
      |  SELECT event_type AS namespace, user_id AS key, value, ts, event_id,
      |         row_number() OVER (PARTITION BY event_type, user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT namespace, key, value, ts
      |FROM ranked WHERE rn = 1 ORDER BY namespace, key""".stripMargin) { (s, d) =>
    kvSnapshotOver(ev(s, d))
  }

  // --- A2: first-write-wins (Storage.put IF NOT EXISTS / CAS acquire) ----
  val kvFirstWrite = QueryDef.oracled(
    "kv_first_write",
    """WITH ranked AS (
      |  SELECT event_type AS namespace, user_id AS key, value, ts, event_id,
      |         row_number() OVER (PARTITION BY event_type, user_id
      |                            ORDER BY ts ASC, event_id ASC) AS rn
      |  FROM events)
      |SELECT namespace, key, value AS first_value, ts AS first_ts
      |FROM ranked WHERE rn = 1 ORDER BY namespace, key""".stripMargin) { (s, d) =>
    ev(s, d)
      .withColumn("rn", row_number().over(byKeyAsc))
      .filter(col("rn") === 1)
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("value").as("first_value"), col("ts").as("first_ts"))
  }

  /** Order-independent keyset digest: per-key Fingerprint64 summed
    * mod 2⁶⁴ (signed-long form). Commutative + associative, so it
    * map-side-combines like any sum and never materializes or sorts
    * the key list — the extreme-cardinality path where the canonical
    * md5-of-sorted-list digest's per-namespace sort becomes the bound.
    * Both digests ship: md5 for watcher parity, hashsum for scale.
    */
  private[graft] val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
  private[graft] val two63 = lit(new java.math.BigDecimal("9223372036854775808"))
  private[graft] def fpUnsigned(k: Column): Column = {
    val fp = graft.functions.expressions.fingerprint64(k)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))
    when(fp < 0, fp + two64).otherwise(fp)
  }
  private[graft] def toSigned64(m: Column): Column =
    when(m >= two63, m - two64).otherwise(m).cast("long")

  /** DuckDB twin of the hashsum: HUGEINT fingerprint fold per key,
    * summed mod 2⁶⁴, signed-cast (same idiom as the C4 oracle).
    */
  private[graft] val hashsumSql =
    """list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |          list_transform(regexp_extract_all(k, '[\s\S]'),
      |                         c -> CAST(ord(c) AS HUGEINT))),
      |          (a, c) -> (a*31 + c) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin
  private[graft] val signedSql = (m: String) =>
    s"""CAST($m - CASE WHEN $m >= CAST('9223372036854775808' AS HUGEINT)
      |                THEN CAST('18446744073709551616' AS HUGEINT)
      |                ELSE 0 END AS BIGINT)""".stripMargin

  // --- A3: key-set listing per namespace (`SELECT key FROM <ns>`) --------
  // Digest = md5 of the lexicographically sorted distinct key list, the
  // same canonical form the poll-based KeySetWatcher diffs against,
  // plus the commutative hashsum digest (no sort, map-side combined).
  val kvKeyset = QueryDef.oracled(
    "kv_keyset",
    s"""WITH ks AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS k
      |            FROM events),
      |h AS (SELECT event_type, k, $hashsumSql AS hk FROM ks),
      |g AS (SELECT event_type, count(*) AS n_keys,
      |        md5(string_agg(k, ',' ORDER BY k)) AS keyset_digest,
      |        sum(hk) % CAST('18446744073709551616' AS HUGEINT) AS m
      |      FROM h GROUP BY event_type)
      |SELECT event_type AS namespace, n_keys, keyset_digest,
      |  ${signedSql("m")} AS keyset_hashsum
      |FROM g ORDER BY namespace""".stripMargin) { (s, d) =>
    ev(s, d)
      .select(col("event_type"), col("user_id").cast("string").as("k"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(collect_set(col("k")).as("ks"),
        sum(fpUnsigned(col("k"))).as("hsum"))
      .select(col("event_type").as("namespace"),
        size(col("ks")).as("n_keys").cast("long"),
        md5(concat_ws(",", sort_array(col("ks")))).as("keyset_digest"),
        toSigned64(col("hsum") % two64).as("keyset_hashsum"))
      .orderBy(col("namespace"))
  }

  // --- A4: value-change feed (ValueChangeListener.valueChanged) ----------
  // The reference fires when a polled value differs from the cached one
  // (CacheListenerRegistry.scala:37-185). Replay: LAG per key, emit rows
  // where the value changed (first sighting included).
  val valueChangeFeed = QueryDef.oracled(
    "value_change_feed",
    """WITH w AS (
      |  SELECT event_type AS namespace, user_id AS key, ts, event_id, value,
      |         lag(value) OVER (PARTITION BY event_type, user_id
      |                          ORDER BY ts, event_id) AS prev
      |  FROM events)
      |SELECT namespace, key, ts, event_id, value
      |FROM w WHERE prev IS NULL OR value <> prev
      |ORDER BY namespace, key, ts, event_id""".stripMargin) { (s, d) =>
    ev(s, d)
      .withColumn("prev", lag(col("value"), 1).over(byKeyAsc))
      .filter(col("prev").isNull || col("value") =!= col("prev"))
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("ts"), col("event_id"), col("value"))
  }

  // --- A55: pull-period COALESCED value watch (round 13) --------------------
  // A4 replays every write; the reference watcher doesn't see every
  // write — it POLLS: ValueWatcher runs at ListenerRegistryPullPeriod
  // (CacheListenerRegistry.scala:44-61, Config.scala:65), fetches the
  // CURRENT value and notifies only when it differs from the last
  // fetch. Writes inside one poll period COALESCE (a value that
  // changes and changes back between polls is never seen), and a
  // write of the already-current value never notifies. Replay: poll
  // tick = floor(epoch_us / P); the poll at tick end sees the tick's
  // LAST write (ties on event_id, the A-family tiebreak); emit when it
  // differs from the previous tick-with-writes' last value (ticks
  // without writes fetch an unchanged value — never notify — so the
  // lag over tick-with-writes rows is exact). notify_ts = the poll
  // time (tick + 1)·P, when the watcher actually fires.
  //
  // Scale: one (namespace, key, tick) map-side-combinable struct-max
  // rollup is the corpus job; the lag window re-clusters the tick-
  // count-sized frame on (namespace, key). Same shape at any P.
  val WatchPullPeriodMicros: Long = 900L * 1000000L // 15 min poll

  /** Shared watcher-compare tail over an `lt(namespace, key, tick,
    * value)` last-write-per-tick CTE — single SQL source for A55 and
    * the streaming twin (A56), so the compare/emit/notify-ts details
    * cannot drift.
    */
  private[graft] def watchTailSqlFor(periodUs: Long): String =
    s"""w AS (SELECT *, lag(value) OVER (PARTITION BY namespace, key
      |                                  ORDER BY tick) AS prev
      |      FROM lt)
      |SELECT namespace, key,
      |       make_timestamp((tick + 1) * CAST($periodUs AS BIGINT))
      |         AS notify_ts,
      |       value, prev AS prev_value
      |FROM w WHERE prev IS NULL OR value <> prev
      |ORDER BY namespace, key, notify_ts""".stripMargin

  /** The Spark twin of [[watchTailSqlFor]] over an
    * `(namespace, key, tick, value)` frame.
    */
  private[graft] def watchCompareStage(lt: DataFrame,
      periodUs: Long): DataFrame =
    lt.withColumn("prev", lag(col("value"), 1).over(
        Window.partitionBy(col("namespace"), col("key"))
          .orderBy(col("tick"))))
      .filter(col("prev").isNull || col("value") =!= col("prev"))
      .select(col("namespace"), col("key"),
        timestamp_micros((col("tick") + 1) * lit(periodUs)).as("notify_ts"),
        col("value"), col("prev").as("prev_value"))
      .orderBy(col("namespace"), col("key"), col("notify_ts"))

  /** A55 factory with the pull period threaded through both engines,
    * the `*Ttl`-factory convention.
    */
  def valueWatchCoalescedWith(periodUs: Long): QueryDef = QueryDef.oracled(
    "value_watch_coalesced",
    s"""WITH r AS (
      |  SELECT event_type AS namespace, user_id AS key, value,
      |         epoch_us(ts) // CAST($periodUs AS BIGINT) AS tick,
      |         row_number() OVER (
      |           PARTITION BY event_type, user_id,
      |                        epoch_us(ts) // CAST($periodUs AS BIGINT)
      |           ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |lt AS (SELECT namespace, key, tick, value FROM r WHERE rn = 1),
      |${watchTailSqlFor(periodUs)}""".stripMargin) { (s, d) =>
    val lt = ev(s, d)
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        // integer FLOOR division (micros are post-epoch positive; the
        // `/` operator would be double division)
        expr(s"unix_micros(ts) DIV ${periodUs}L").as("tick"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("namespace"), col("key"), col("tick"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("lw"))
      .select(col("namespace"), col("key"), col("tick"),
        col("lw.value").as("value"))
    watchCompareStage(lt, periodUs)
  }

  val valueWatchCoalesced = valueWatchCoalescedWith(WatchPullPeriodMicros)

  /** Shared digest/lag/compare tail over a `ks(event_type, tick, k)`
    * CTE — the single SQL source of the keyset-feed semantics, used by
    * A5 and the streaming twin (A22) so the digest details (separator,
    * hashsum, tiebreak) cannot drift apart.
    */
  private[graft] val keysetFeedTailSql =
    s"""h AS (SELECT event_type, tick, k, $hashsumSql AS hk FROM ks),
      |d AS (SELECT event_type, tick,
      |             md5(string_agg(k, ',' ORDER BY k)) AS digest,
      |             count(*) AS n_keys,
      |             sum(hk) % CAST('18446744073709551616' AS HUGEINT) AS m
      |      FROM h GROUP BY event_type, tick),
      |w AS (SELECT *, lag(digest) OVER (PARTITION BY event_type
      |                                  ORDER BY tick) AS prev FROM d)
      |SELECT event_type AS namespace, tick, n_keys, digest,
      |       ${signedSql("m")} AS hashsum
      |FROM w WHERE prev IS NULL OR digest <> prev
      |ORDER BY namespace, tick""".stripMargin

  /** The Spark twin of [[keysetFeedTailSql]]: digest + lag-compare over
    * an `(event_type, tick, ks: array<string>)` frame.
    */
  private[graft] def keysetDigestStage(daily: DataFrame): DataFrame =
    daily
      .select(col("event_type"), col("tick"),
        size(col("ks")).cast("long").as("n_keys"),
        md5(concat_ws(",", sort_array(col("ks")))).as("digest"),
        toSigned64(aggregate(col("ks"),
          lit(java.math.BigDecimal.ZERO)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)),
          (acc, k) => acc + fpUnsigned(k)) % two64).as("hashsum"))
      .withColumn("prev", lag(col("digest"), 1).over(
        Window.partitionBy(col("event_type")).orderBy(col("tick"))))
      .filter(col("prev").isNull || col("digest") =!= col("prev"))
      .select(col("event_type").as("namespace"), col("tick"), col("n_keys"),
        col("digest"), col("hashsum"))
      .orderBy(col("namespace"), col("tick"))

  // --- A5: key-set change feed (KeySetChangeListener.keySetChanged) ------
  // Poll tick = day of event time; a tick fires when the canonical sorted
  // key-set digest differs from the previous tick's. The commutative
  // hashsum ships alongside (change detection itself could lag-compare
  // either; the md5 stays the watcher-parity canonical form).
  val keysetChangeFeed = QueryDef.oracled(
    "keyset_change_feed",
    s"""WITH ks AS (SELECT DISTINCT event_type, date_trunc('day', ts) AS tick,
      |                   CAST(user_id AS VARCHAR) AS k FROM events),
      |$keysetFeedTailSql""".stripMargin) { (s, d) =>
    keysetDigestStage(
      keysetTicks(s, d)
        .groupBy(col("event_type"), col("tick"))
        .agg(collect_set(col("k")).as("ks")))
  }

  /** The A5 `ks` stage: one row per (namespace, tick, key) — the single
    * Spark-side source of the tick/key derivation, shared by the feed
    * above and the ListenerRegistry fetcher
    * ([[graft.api.CoordinationApi.keySetsByTick]]) so the two cannot
    * drift (the SQL side shares keysetFeedTailSql the same way).
    */
  private[graft] def keysetTicks(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .select(col("event_type"), date_trunc("day", col("ts")).as("tick"),
        col("user_id").cast("string").as("k"))
      .distinct()

  /** Period-parameterized tick derivation — the reference's
    * `lr.pull.period.ms` knob: tick = event time floored to a multiple
    * of the poll period (pure integer micros arithmetic, so any period
    * works, not just calendar units). At the default day period this
    * is bit-identical to `date_trunc('day')` (epoch days are exact
    * multiples of 86_400_000_000 µs in UTC — spec-pinned).
    */
  private[graft] def keysetTicksPeriod(s: SparkSession, d: String,
      periodUs: Long): DataFrame =
    ev(s, d)
      .select(col("event_type"),
        timestamp_micros(unix_micros(col("ts")) -
          pmod(unix_micros(col("ts")), lit(periodUs))).as("tick"),
        col("user_id").cast("string").as("k"))
      .distinct()

  /** A5 at a caller-chosen poll period (oracle uses the same floored-
    * micros tick so both engines bucket identically).
    */
  def keysetChangeFeedPeriod(periodUs: Long): QueryDef = QueryDef.oracled(
    "keyset_change_feed",
    s"""WITH ks AS (SELECT DISTINCT event_type,
      |         make_timestamp(epoch_us(ts) - epoch_us(ts) % $periodUs) AS tick,
      |         CAST(user_id AS VARCHAR) AS k FROM events),
      |$keysetFeedTailSql""".stripMargin) { (s, d) =>
    keysetDigestStage(
      keysetTicksPeriod(s, d, periodUs)
        .groupBy(col("event_type"), col("tick"))
        .agg(collect_set(col("k")).as("ks")))
  }

  /** Shared TTL-gap sessionization: each (resource, candidate)'s events
    * split into sessions wherever the gap exceeds the TTL — exactly the
    * reference's claim/renew/expire cycle replayed
    * (CassandraLeaderElection.scala:46-170: a holder that misses its
    * renew window loses the row to TTL expiry; the next claim starts a
    * new tenure). Columns: resource, candidate, session_start,
    * session_end, n_heartbeats.
    */
  private def sessions(s: SparkSession, d: String,
      ttlUs: Long = DefaultTtlMicros): DataFrame = {
    val byCandidate = Window
      .partitionBy(col("resource"), col("candidate"))
      .orderBy(col("ts"), col("event_id"))
    ev(s, d)
      .select(col("event_type").as("resource"), col("user_id").as("candidate"),
        col("ts"), col("event_id"), col("value"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byCandidate))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > ttlUs, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        byCandidate.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("resource"), col("candidate"), col("sid"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_heartbeats"),
        // the claim row's payload at the latest renew — the reference's
        // getLeader returns (owner, sup_data), not just the owner
        // (leader/election/CassandraLeaderElection.scala:64-69)
        max_by(col("value"), array(col("us"), col("event_id"))).as("sup_data"))
  }

  private def sessionsSql(ttlUs: Long = DefaultTtlMicros): String =
    s"""sess AS (
      |  SELECT resource, candidate, sid,
      |         min(ts) AS session_start, max(ts) AS session_end,
      |         count(*) AS n_heartbeats,
      |         last(value ORDER BY ts, event_id) AS sup_data
      |  FROM (
      |    SELECT *, sum(new_s) OVER (PARTITION BY resource, candidate
      |                               ORDER BY ts, event_id
      |                               ROWS UNBOUNDED PRECEDING) AS sid
      |    FROM (
      |      SELECT event_type AS resource, user_id AS candidate, ts, event_id, value,
      |             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $ttlUs
      |                  THEN 1 ELSE 0 END AS new_s
      |      FROM events
      |      WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts, event_id)))
      |  GROUP BY resource, candidate, sid)""".stripMargin

  // --- A6: leader election end-state (getLeader after full replay) -------
  // Live session = last heartbeat within TTL of log end; CAS first-writer-
  // wins → leader = live candidate whose current session started earliest
  // (tiebreak: candidate id, the deterministic stand-in for CAS order).
  def leaderElectionReplayTtl(ttlUs: Long): QueryDef = QueryDef.oracled(
    "leader_election_replay",
    s"""WITH ${sessionsSql(ttlUs)},
      |logend AS (SELECT max(epoch_us(ts)) AS e FROM events),
      |live AS (SELECT sess.* FROM sess, logend
      |         WHERE epoch_us(session_end) >= e - $ttlUs),
      |r AS (SELECT *, row_number() OVER (PARTITION BY resource
      |                ORDER BY session_start, candidate) AS rn FROM live)
      |SELECT resource, candidate AS leader, session_start AS leader_since,
      |       n_heartbeats AS n_renewals, sup_data
      |FROM r WHERE rn = 1 ORDER BY resource""".stripMargin) { (s, d) =>
    val sess = sessions(s, d, ttlUs)
    val logEnd = ev(s, d).agg(max(unix_micros(col("ts"))).as("e"))
    sess.crossJoin(broadcast(logEnd))
      .filter(unix_micros(col("session_end")) >= col("e") - ttlUs)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("resource"))
          .orderBy(col("session_start"), col("candidate"))))
      .filter(col("rn") === 1)
      .select(col("resource"), col("candidate").as("leader"),
        col("session_start").as("leader_since"),
        col("n_heartbeats").as("n_renewals"), col("sup_data"))
      .orderBy(col("resource"))
  }

  val leaderElectionReplay = leaderElectionReplayTtl(DefaultTtlMicros)

  // --- A23: the LeaderChangeListener feed (batch replay) ------------------
  // Every onLeaderChange firing over the log (CassandraLeaderElection
  // .scala:129-135): the CAS acquire/renew/expire machine emits a row
  // per leadership change — the fold is Streaming.leaderFold, shared
  // verbatim with the live A12 operator. Parallel unit = resource (the
  // machine is inherently sequential per election row, exactly like the
  // reference's single Cassandra partition per resource); the shuffle
  // key is the resource, no driver state.
  //
  // The oracle replays the machine in pure SQL: per-candidate TTL-gap
  // sessions give every claim's heartbeat-chain end; a successor table
  // (ASOF join: first event strictly past sess_end + TTL) precomputes
  // "who acquires after this leader's chain lapses"; the acquisition
  // chain is then a linear recursive walk over exact keys — O(changes)
  // iterations of O(1) joins, not a per-iteration log scan.
  private[graft] def leaderChangeFeedSqlTtl(ttlUs: Long): String =
    s"""WITH RECURSIVE
      |ev AS MATERIALIZED (
      |  SELECT event_type AS res, user_id AS cand, epoch_us(ts) AS us,
      |         event_id AS eid, ts,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events),
      |g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
      |                       OR us - lag(us) OVER w > $ttlUs
      |                     THEN 1 ELSE 0 END AS nf
      |      FROM ev WINDOW w AS (PARTITION BY res, cand ORDER BY us, eid)),
      |sess AS (SELECT *, sum(nf) OVER (PARTITION BY res, cand ORDER BY us, eid
      |                                 ROWS UNBOUNDED PRECEDING) AS sid FROM g),
      |se AS (SELECT res, cand, us, eid, rn,
      |              max(us) OVER (PARTITION BY res, cand, sid) + $ttlUs AS thresh
      |       FROM sess),
      |mx AS (SELECT res, us, max(rn) AS mrn FROM ev GROUP BY res, us),
      |nx0 AS (SELECT s.res, s.cand, s.us, s.eid, m.mrn + 1 AS nrn
      |        FROM se s ASOF JOIN mx m ON s.res = m.res AND s.thresh >= m.us),
      |nxt AS MATERIALIZED (
      |  SELECT n.res, n.cand, n.us, n.eid,
      |         e.us AS nus, e.eid AS neid, e.cand AS ncand, e.ts AS nts
      |  FROM nx0 n LEFT JOIN ev e ON e.res = n.res AND e.rn = n.nrn),
      |init AS (SELECT res, us, eid, cand AS leader, CAST(-1 AS BIGINT) AS prev, ts
      |         FROM ev WHERE rn = 1),
      |acq AS (
      |  SELECT * FROM init
      |  UNION ALL
      |  SELECT n.res, n.nus, n.neid, n.ncand AS leader, a.leader AS prev, n.nts
      |  FROM acq a
      |  JOIN nxt n ON n.res = a.res AND n.cand = a.leader
      |            AND n.us = a.us AND n.eid = a.eid
      |  WHERE n.neid IS NOT NULL)
      |SELECT res AS resource, ts, eid AS event_id, leader AS new_leader,
      |       prev AS prev_leader
      |FROM acq ORDER BY resource, us, event_id""".stripMargin

  private[graft] val leaderChangeFeedSql: String =
    leaderChangeFeedSqlTtl(DefaultTtlMicros)

  def leaderChangeFeedTtl(ttlUs: Long): QueryDef = QueryDef.oracled(
    "leader_change_feed", leaderChangeFeedSqlTtl(ttlUs)) { (s, d) =>
    import s.implicits._
    import graft.streaming.{KeyedEvent, Streaming}
    ev(s, d)
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("ts"), col("event_id"), col("value"))
      .as[KeyedEvent]
      .groupByKey(_.namespace)
      .flatMapGroups { (res: String, it: Iterator[KeyedEvent]) =>
        val sorted = it.toSeq.sortBy(e => (Streaming.tsMicros(e.ts), e.event_id))
        Streaming.leaderFold(res, sorted, None, ttlUs)._1.iterator
      }
      .toDF()
  }

  val leaderChangeFeed = leaderChangeFeedTtl(DefaultTtlMicros)

  // --- A7: leadership tenures over time ----------------------------------
  def leaderTenuresTtl(ttlUs: Long): QueryDef = QueryDef.oracled(
    "leader_tenures",
    s"""WITH ${sessionsSql(ttlUs)}
      |SELECT resource, candidate, session_start, session_end,
      |       n_heartbeats - 1 AS n_renewals
      |FROM sess ORDER BY resource, candidate, session_start""".stripMargin) { (s, d) =>
    sessions(s, d, ttlUs)
      .select(col("resource"), col("candidate"), col("session_start"),
        col("session_end"), (col("n_heartbeats") - 1).as("n_renewals"))
  }

  val leaderTenures = leaderTenuresTtl(DefaultTtlMicros)

  // --- A8: group membership with TTL liveness ----------------------------
  // membershipList(): members whose heartbeat is within TTL of log end;
  // sup_data = payload of the latest heartbeat (README "Group Membership").
  def groupMembershipTtl(ttlUs: Long): QueryDef = QueryDef.oracled(
    "group_membership",
    s"""WITH r AS (
      |  SELECT event_type AS grp, user_id AS member, ts, value,
      |         row_number() OVER (PARTITION BY event_type, user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |logend AS (SELECT max(epoch_us(ts)) AS e FROM events)
      |SELECT grp, member, ts AS last_heartbeat, value AS sup_data
      |FROM r, logend
      |WHERE rn = 1 AND epoch_us(ts) >= e - $ttlUs
      |ORDER BY grp, member""".stripMargin) { (s, d) =>
    val logEnd = ev(s, d).agg(max(unix_micros(col("ts"))).as("e"))
    ev(s, d)
      .withColumn("rn", row_number().over(byKeyDesc))
      .filter(col("rn") === 1)
      .crossJoin(broadcast(logEnd))
      .filter(unix_micros(col("ts")) >= col("e") - ttlUs)
      .select(col("event_type").as("grp"), col("user_id").as("member"),
        col("ts").as("last_heartbeat"), col("value").as("sup_data"))
      .orderBy(col("grp"), col("member"))
  }

  val groupMembership = groupMembershipTtl(DefaultTtlMicros)

  /** Kafka-shaped frame derived deterministically from the changelog —
    * the connector's input contract (topic, partition, offset, key,
    * value, timestamp) without a broker in the container (SURVEY §6).
    */
  def kafkaFrame(s: SparkSession, d: String): DataFrame = kafkaShape(ev(s, d))

  /** The shared event→Kafka-record projection; the streaming connector
    * twin (A13) applies the identical shape to its stream.
    */
  def kafkaShape(events: DataFrame): DataFrame =
    events.select(
      col("event_type").as("topic"),
      (col("user_id") % 8).cast("int").as("partition"),
      col("event_id").as("koffset"),
      col("user_id").cast("string").as("key"),
      col("value"),
      col("ts"))

  val kafkaFrameSql =
    """kafka AS (
      |  SELECT event_type AS topic, CAST(user_id % 8 AS INT) AS partition,
      |         event_id AS koffset, CAST(user_id AS VARCHAR) AS key,
      |         value, ts
      |  FROM events)""".stripMargin

  // --- A9: the connector's essence: keyed upsert compaction --------------
  // Kafka→Cassandra with a keyed table = last-write-wins upsert; the
  // post-replay table state is "latest record per (topic, key)".
  val etlUpsertCompact = QueryDef.oracled(
    "etl_upsert_compact",
    s"""WITH $kafkaFrameSql,
      |r AS (SELECT *, row_number() OVER (PARTITION BY topic, key
      |               ORDER BY ts DESC, koffset DESC) AS rn FROM kafka)
      |SELECT topic, partition, key, value, ts, koffset
      |FROM r WHERE rn = 1 ORDER BY topic, key""".stripMargin) { (s, d) =>
    kafkaFrame(s, d)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("topic"), col("key"))
          .orderBy(col("ts").desc, col("koffset").desc)))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  // ---- Tombstone / op-type convention ------------------------------------
  // The reference has explicit removal ops — `resign` is a conditional
  // DELETE of the election row (CassandraLeaderElection.scala:144-147),
  // `leave(id)` removes a member, and Storage distinguishes put
  // (unconditional) from update (write-if-present). The synthetic
  // changelog carries no op-type column, so the replay defines a
  // deterministic convention over the payload's cents digit —
  // op10 = CAST(round(value*100) AS BIGINT) % 10:
  //   op10 = 0     → DELETE/resign/leave  (~10% of events)
  //   op10 ∈ 1..3  → PUT (unconditional write)
  //   op10 ∈ 4..9  → UPDATE (write-if-present)
  //   op10 ∈ -9..-1 → PUT: % preserves sign in BOTH engines, so a
  //     negative payload's digit lands below the op10 <= 3 cut and
  //     every replay (and the fetchCas twin) classifies it as a put —
  //     negatives never delete and never gate on presence, by design.
  // Identical float64 arithmetic on both engines → bit-identical op
  // assignment; all three delete-aware replays below are fully oracled.
  private val opSql = "CAST(round(value*100) AS BIGINT) % 10"

  /** The op digit of a payload column, for every replay here, the
    * stream twins' scalar fold ([[graft.streaming.Streaming.opDigit]])
    * and `CoordinationApi.fetchCas`. It agrees with `opSql` on every
    * finite payload. Non-finite payloads take non-ANSI CAST's values
    * (NaN → 0 = delete, ±Inf saturate to Long.Max/Min % 10), decided
    * before the cast so an ANSI cast never sees them.
    */
  private[graft] def opDigit(value: Column): Column = {
    val cents = value * 100
    when(isnan(value), 0L)
      .when(cents >= Long.MaxValue.toDouble, Long.MaxValue % 10)
      .when(cents <= Long.MinValue.toDouble, Long.MinValue % 10)
      .otherwise(round(cents).cast("long") % 10)
  }

  // --- A16: Storage replay under put/update/delete CAS semantics ----------
  // Per key, the last PUT-or-DELETE is the "boundary": a final DELETE
  // (or no PUT ever — updates alone can't create a key) leaves the key
  // absent; otherwise the key exists from the boundary PUT onward and
  // every later UPDATE applies, so the final value is the latest
  // non-delete event at-or-after the boundary. One extra shuffle vs A1
  // (boundary join) — both hash on (namespace, key).
  val kvStorageReplay = QueryDef.oracled(
    "kv_storage_replay",
    s"""WITH e AS (
      |  SELECT event_type AS namespace, user_id AS key, ts, event_id, value,
      |         $opSql AS op10
      |  FROM events),
      |b AS (
      |  SELECT *, row_number() OVER (PARTITION BY namespace, key
      |             ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM e WHERE op10 <= 3),
      |lastb AS (SELECT namespace, key, epoch_us(ts) AS bus, event_id AS bid,
      |                 op10 AS bop
      |          FROM b WHERE rn = 1),
      |w AS (
      |  SELECT e.namespace, e.key, e.ts, e.event_id, e.value,
      |         row_number() OVER (PARTITION BY e.namespace, e.key
      |            ORDER BY e.ts DESC, e.event_id DESC) AS rn
      |  FROM e JOIN lastb ON e.namespace = lastb.namespace AND e.key = lastb.key
      |  WHERE e.op10 <> 0 AND lastb.bop <> 0
      |    AND (epoch_us(e.ts) > lastb.bus
      |         OR (epoch_us(e.ts) = lastb.bus AND e.event_id >= lastb.bid)))
      |SELECT namespace, key, value, ts
      |FROM w WHERE rn = 1 ORDER BY namespace, key""".stripMargin) { (s, d) =>
    val e = ev(s, d)
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("op10", opDigit(col("value")))
    val lastBoundary = e.filter(col("op10") <= 3)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("namespace"), col("key"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("namespace"), col("key"), unix_micros(col("ts")).as("bus"),
        col("event_id").as("bid"), col("op10").as("bop"))
    e.filter(col("op10") =!= 0)
      .join(lastBoundary, Seq("namespace", "key"))
      .filter(col("bop") =!= 0)
      .filter(unix_micros(col("ts")) > col("bus") ||
        (unix_micros(col("ts")) === col("bus") && col("event_id") >= col("bid")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("namespace"), col("key"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("namespace"), col("key"), col("value"), col("ts"))
      .orderBy(col("namespace"), col("key"))
  }

  // --- A24: the Storage mutation feed (applied writes only) ----------------
  // The watcher-facing form of A16: one row per mutation that CHANGES
  // the visible KV state — every put (unconditional write), updates
  // only when the key exists, deletes only when there was something to
  // delete. This is the feed a `ValueChangeListener` on a
  // put/update/delete store consumes (the value-only A4 feed can't
  // represent "applied" semantics — an update against an absent key
  // must NOT fire).
  //
  // Window formulation, no recursion needed: presence strictly before
  // an event equals "the last put-or-delete before it is a put" —
  // updates never change presence, an unconditional put always leaves
  // the key present, and a delete always leaves it absent, so the
  // boundary's own applied-ness is irrelevant (a no-op boundary's op
  // already equals the state it found). One hash shuffle on
  // (namespace, key); the `last(..., ignoreNulls)` window is the same
  // shape as the B18 as-of join.
  /** Shared oracle: the applied-mutation feed in window SQL. */
  private[graft] val storageFeedSql: String =
    s"""WITH e AS (
      |  SELECT event_type AS namespace, user_id AS key, ts, event_id, value,
      |         $opSql AS op10
      |  FROM events),
      |w AS (
      |  SELECT *,
      |    last_value(CASE WHEN op10 <= 3 THEN op10 END IGNORE NULLS)
      |      OVER (PARTITION BY namespace, key ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bop
      |  FROM e)
      |SELECT namespace, key, ts, event_id,
      |  CASE WHEN op10 = 0 THEN 'delete'
      |       WHEN op10 <= 3 THEN 'put' ELSE 'update' END AS op,
      |  CASE WHEN op10 = 0 THEN NULL ELSE value END AS new_value
      |FROM w
      |WHERE (op10 <> 0 AND op10 <= 3)
      |   OR (bop IS NOT NULL AND bop <> 0)
      |ORDER BY namespace, key, ts, event_id""".stripMargin

  val kvStorageFeed = QueryDef.oracled(
    "kv_storage_feed", storageFeedSql) { (s, d) =>
    val byKeyAsc = Window.partitionBy(col("namespace"), col("key"))
      .orderBy(col("ts"), col("event_id"))
    ev(s, d)
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("op10", opDigit(col("value")))
      .withColumn("bop", last(when(col("op10") <= 3, col("op10")), ignoreNulls = true)
        .over(byKeyAsc.rowsBetween(Window.unboundedPreceding, -1)))
      .filter((col("op10") =!= 0 && col("op10") <= 3) ||
        (col("bop").isNotNull && col("bop") =!= 0))
      .select(col("namespace"), col("key"), col("ts"), col("event_id"),
        when(col("op10") === 0, "delete")
          .when(col("op10") <= 3, "put").otherwise("update").as("op"),
        when(col("op10") === 0, lit(null)).otherwise(col("value"))
          .as("new_value"))
  }

  // --- A17: leave-aware group membership ----------------------------------
  // `leave(id)`: a member whose LATEST record is a tombstone is out,
  // regardless of heartbeat recency; otherwise A8's TTL rule applies.
  def groupMembershipLeaveTtl(ttlUs: Long): QueryDef = QueryDef.oracled(
    "group_membership_leave",
    s"""WITH r AS (
      |  SELECT event_type AS grp, user_id AS member, ts, value,
      |         ($opSql = 0) AS del,
      |         row_number() OVER (PARTITION BY event_type, user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |logend AS (SELECT max(epoch_us(ts)) AS e FROM events)
      |SELECT grp, member, ts AS last_heartbeat, value AS sup_data
      |FROM r, logend
      |WHERE rn = 1 AND NOT del AND epoch_us(ts) >= e - $ttlUs
      |ORDER BY grp, member""".stripMargin) { (s, d) =>
    val logEnd = ev(s, d).agg(max(unix_micros(col("ts"))).as("e"))
    ev(s, d)
      .withColumn("rn", row_number().over(byKeyDesc))
      .filter(col("rn") === 1)
      .filter(opDigit(col("value")) =!= 0)
      .crossJoin(broadcast(logEnd))
      .filter(unix_micros(col("ts")) >= col("e") - ttlUs)
      .select(col("event_type").as("grp"), col("user_id").as("member"),
        col("ts").as("last_heartbeat"), col("value").as("sup_data"))
      .orderBy(col("grp"), col("member"))
  }

  val groupMembershipLeave = groupMembershipLeaveTtl(DefaultTtlMicros)

  // --- A27: the group-membership change feed (join/leave/expire) -----------
  // The event-level form of A8/A17: every membership TRANSITION, which
  // is what `GroupMembershipListener.onGroupChange` consumes — a member
  // JOINS at a heartbeat that finds it not-alive (first sighting, after
  // a leave, or after a TTL lapse), LEAVES at a tombstone that finds it
  // alive (a tombstone against a non-member is a no-op — the A24
  // applied-mutation principle), and EXPIRES at last_heartbeat + TTL
  // when no record arrives within TTL (or the log ends more than TTL
  // later). Aliveness at any record is fully determined by the
  // PREVIOUS record and the gap — after any tombstone the member is
  // out (it either applied or found the member already out), after any
  // heartbeat it is in for TTL — so the whole feed is one LAG/LEAD
  // window per (group, member): one hash shuffle, no recursion, no
  // state machine. Expire rows carry the synthetic event time
  // last_us + TTL, exactly where the reference's poller would observe
  // the lapse. ts_us = event-time micros (BIGINT keeps the synthetic
  // timestamps bit-comparable across engines).
  /** Shared oracle; `endExpire` is the log-end lapse predicate — exact
    * micros for the batch replay, the ms-floored watermark form for the
    * streaming twin (Spark tracks watermarks in ms).
    */
  private[graft] def groupFeedSql(endExpire: String,
      ttlUs: Long = DefaultTtlMicros): String =
    s"""WITH e AS (
      |  SELECT event_type AS grp, user_id AS member, ts, event_id,
      |         epoch_us(ts) AS us,
      |         CASE WHEN $opSql = 0 THEN 1 ELSE 0 END AS del
      |  FROM events),
      |w AS (
      |  SELECT *, lag(us) OVER win AS prev_us, lag(del) OVER win AS prev_del,
      |         lead(us) OVER win AS next_us
      |  FROM e WINDOW win AS (PARTITION BY grp, member ORDER BY ts, event_id)),
      |logend AS (SELECT max(epoch_us(ts)) AS e FROM events)
      |SELECT grp, member, 'join' AS event, us AS ts_us FROM w
      |WHERE del = 0 AND (prev_us IS NULL OR prev_del = 1
      |                   OR us - prev_us > $ttlUs)
      |UNION ALL
      |SELECT grp, member, 'leave' AS event, us AS ts_us FROM w
      |WHERE del = 1 AND prev_us IS NOT NULL AND prev_del = 0
      |  AND us - prev_us <= $ttlUs
      |UNION ALL
      |SELECT grp, member, 'expire' AS event, us + $ttlUs AS ts_us
      |FROM w, logend
      |WHERE del = 0 AND ((next_us IS NOT NULL AND next_us - us > $ttlUs)
      |                   OR (next_us IS NULL AND ($endExpire)))
      |ORDER BY grp, member, ts_us, event""".stripMargin

  /** A27 feed carrying the source record's `event_id` — the log's
    * same-timestamp tiebreak. The public query drops it (the oracle
    * schema is (grp, member, event, ts_us)), but the replay API keeps
    * it so listener-observed member sets are deterministic when a join
    * and a leave share the same micros.
    */
  private[graft] def groupChangeFeedWithId(s: SparkSession, d: String,
      ttlUs: Long = DefaultTtlMicros): DataFrame = {
    val byMemberAsc = Window.partitionBy(col("grp"), col("member"))
      .orderBy(col("ts"), col("event_id"))
    val logEnd = ev(s, d).agg(max(unix_micros(col("ts"))).as("e"))
    ev(s, d)
      .select(col("event_type").as("grp"), col("user_id").as("member"),
        col("ts"), col("event_id"), unix_micros(col("ts")).as("us"),
        when(opDigit(col("value")) === 0, 1).otherwise(0).as("del"))
      .withColumn("prev_us", lag(col("us"), 1).over(byMemberAsc))
      .withColumn("prev_del", lag(col("del"), 1).over(byMemberAsc))
      .withColumn("next_us", lead(col("us"), 1).over(byMemberAsc))
      .crossJoin(broadcast(logEnd))
      .withColumn("evs", array(
        when(col("del") === 0 && (col("prev_us").isNull ||
            col("prev_del") === 1 ||
            col("us") - col("prev_us") > ttlUs),
          struct(lit("join").as("event"), col("us").as("ts_us"))),
        when(col("del") === 1 && col("prev_us").isNotNull &&
            col("prev_del") === 0 &&
            col("us") - col("prev_us") <= ttlUs,
          struct(lit("leave").as("event"), col("us").as("ts_us"))),
        when(col("del") === 0 &&
            ((col("next_us").isNotNull &&
              col("next_us") - col("us") > ttlUs) ||
             (col("next_us").isNull && col("e") - col("us") > ttlUs)),
          struct(lit("expire").as("event"),
            (col("us") + ttlUs).as("ts_us")))))
      .select(col("grp"), col("member"), col("event_id"),
        explode(filter(col("evs"), _.isNotNull)).as("ev"))
      .select(col("grp"), col("member"), col("ev.event").as("event"),
        col("ev.ts_us").as("ts_us"), col("event_id"))
  }

  def groupChangeFeedTtl(ttlUs: Long): QueryDef = QueryDef.oracled(
    "group_change_feed",
    groupFeedSql(s"e - us > $ttlUs", ttlUs)) { (s, d) =>
    groupChangeFeedWithId(s, d, ttlUs).drop("event_id")
  }

  val groupChangeFeed = groupChangeFeedTtl(DefaultTtlMicros)

  // --- A18: resign-aware leader election end state -------------------------
  // `resign` = conditional DELETE of the election row: it ends the
  // holder's session at that instant (the next claim by anyone —
  // including the resigner — is a fresh acquisition), and a candidate
  // whose live session ended in a resign is not a contender at log end.
  // Same sessionize-then-rank shape as A6 with two extra window terms.
  def leaderElectionResignTtl(ttlUs: Long): QueryDef = QueryDef.oracled(
    "leader_election_resign",
    s"""WITH e AS (
      |  SELECT event_type AS resource, user_id AS candidate, ts, event_id, value,
      |         CASE WHEN $opSql = 0 THEN 1 ELSE 0 END AS del
      |  FROM events),
      |g AS (
      |  SELECT *, CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $ttlUs
      |                   OR lag(del) OVER w = 1
      |                 THEN 1 ELSE 0 END AS new_s,
      |            CASE WHEN lead(epoch_us(ts)) OVER w IS NULL
      |                   OR lead(epoch_us(ts)) OVER w - epoch_us(ts) > $ttlUs
      |                   OR del = 1
      |                 THEN 1 ELSE 0 END AS is_last
      |  FROM e WINDOW w AS (PARTITION BY resource, candidate ORDER BY ts, event_id)),
      |s AS (SELECT *, sum(new_s) OVER (PARTITION BY resource, candidate
      |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g),
      |sess AS (
      |  SELECT resource, candidate, sid, min(ts) AS session_start,
      |         max(ts) AS session_end, count(*) AS n_heartbeats,
      |         max(CASE WHEN is_last = 1 THEN del ELSE 0 END) AS resigned,
      |         last(value ORDER BY ts, event_id) AS sup_data
      |  FROM s GROUP BY resource, candidate, sid),
      |logend AS (SELECT max(epoch_us(ts)) AS e FROM events),
      |live AS (SELECT sess.* FROM sess, logend
      |         WHERE epoch_us(session_end) >= e - $ttlUs AND resigned = 0),
      |r AS (SELECT *, row_number() OVER (PARTITION BY resource
      |          ORDER BY session_start, candidate) AS rn FROM live)
      |SELECT resource, candidate AS leader, session_start AS leader_since,
      |       n_heartbeats AS n_renewals, sup_data
      |FROM r WHERE rn = 1 ORDER BY resource""".stripMargin) { (s, d) =>
    val byCandidate = Window
      .partitionBy(col("resource"), col("candidate"))
      .orderBy(col("ts"), col("event_id"))
    val sess = ev(s, d)
      .select(col("event_type").as("resource"), col("user_id").as("candidate"),
        col("ts"), col("event_id"), col("value"), unix_micros(col("ts")).as("us"),
        when(opDigit(col("value")) === 0, 1).otherwise(0).as("del"))
      .withColumn("prev_us", lag(col("us"), 1).over(byCandidate))
      .withColumn("prev_del", lag(col("del"), 1).over(byCandidate))
      .withColumn("next_us", lead(col("us"), 1).over(byCandidate))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > ttlUs ||
          col("prev_del") === 1, 1).otherwise(0))
      .withColumn("is_last",
        when(col("next_us").isNull ||
          col("next_us") - col("us") > ttlUs ||
          col("del") === 1, 1).otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        byCandidate.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("resource"), col("candidate"), col("sid"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_heartbeats"),
        max(when(col("is_last") === 1, col("del")).otherwise(0)).as("resigned"),
        max_by(col("value"), array(col("us"), col("event_id"))).as("sup_data"))
    val logEnd = ev(s, d).agg(max(unix_micros(col("ts"))).as("e"))
    sess.crossJoin(broadcast(logEnd))
      .filter(unix_micros(col("session_end")) >= col("e") - ttlUs &&
        col("resigned") === 0)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("resource"))
          .orderBy(col("session_start"), col("candidate"))))
      .filter(col("rn") === 1)
      .select(col("resource"), col("candidate").as("leader"),
        col("session_start").as("leader_since"),
        col("n_heartbeats").as("n_renewals"), col("sup_data"))
      .orderBy(col("resource"))
  }

  val leaderElectionResign = leaderElectionResignTtl(DefaultTtlMicros)

  // --- A38: SCD Type-2 history table from the changelog (round 10) --------
  // The warehouse-dimension view of the KV log: per (namespace, key),
  // consecutive-distinct value runs become validity intervals
  // [valid_from, valid_to) with an is_current flag — A4's change rows
  // are the run starts, closed by lead(). Downstream as-of consumers
  // (B18's join is the query twin) read this table instead of
  // replaying the log; the streaming twin (A39) emits the closed
  // intervals live.
  //
  // Scale (100 TB): ONE hash shuffle on (namespace, key) — the change
  // filter shrinks the frame BEFORE the lead window, and both windows
  // share byKeyAsc's clustering+ordering, so Catalyst plans a single
  // Exchange+Sort and the lead runs on change-rows only. Same NaN
  // note as A4 (SQL equality, engine-identical).
  val kvScd2 = QueryDef.oracled(
    "kv_scd2",
    """WITH w AS (
      |  SELECT event_type AS namespace, user_id AS key, ts, event_id, value,
      |         lag(value) OVER (PARTITION BY event_type, user_id
      |                          ORDER BY ts, event_id) AS prev
      |  FROM events),
      |c AS (SELECT namespace, key, ts, event_id, value FROM w
      |      WHERE prev IS NULL OR value <> prev),
      |iv AS (SELECT namespace, key, value,
      |              ts AS valid_from, event_id AS valid_from_id,
      |              lead(ts) OVER (PARTITION BY namespace, key
      |                             ORDER BY ts, event_id) AS valid_to
      |       FROM c)
      |SELECT namespace, key, value, valid_from, valid_from_id, valid_to,
      |       valid_to IS NULL AS is_current
      |FROM iv ORDER BY namespace, key, valid_from, valid_from_id""".stripMargin) { (s, d) =>
    ev(s, d)
      .withColumn("prev", lag(col("value"), 1).over(byKeyAsc))
      .filter(col("prev").isNull || col("value") =!= col("prev"))
      .withColumn("valid_to", lead(col("ts"), 1).over(byKeyAsc))
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("value"), col("ts").as("valid_from"),
        col("event_id").as("valid_from_id"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  // --- A46: TTL-expiring KV snapshot (Cassandra per-cell row TTL) ----------
  // The reference's storage tier is Cassandra, whose defining retention
  // primitive is the per-write TTL (`USING TTL` on every INSERT the
  // plugin issues) — a row vanishes from reads once its last write is
  // older than the TTL. Replayed over the changelog: the compacted
  // snapshot (A1) restricted to keys whose LAST write is still inside
  // the TTL window at log end, each row carrying its expiry instant.
  // The session-cache / presence-table view of the KV log, distinct
  // from the election liveness TTL (that one gates per-RENEWAL gaps;
  // this one expires the materialized ROW).
  //
  // Scale (100 TB): unlike A1's window, the last-write pick here is a
  // groupBy max(struct(ts, event_id, value)) — map-side combinable, so
  // the one (namespace, key) shuffle moves per-key partials, not the
  // changelog (and the same agg IS the streaming twin's state update).
  // Log-end T comes from the last-write frame itself (each event
  // belongs to some key, so the per-key max preserves the global max);
  // the keys-sized frame is checkpointed for its two consumers.
  // Liveness is integer microsecond arithmetic — exact, codegen'd.

  /** Default row TTL for the expiring snapshot — one day of event
    * time (the changelog spans 30 days; 1d keeps a nontrivial live
    * set at every SF, probed: 273/750 keys at sf0.01).
    */
  val KvRowTtlMicros = 86400L * 1000000L

  private[graft] def kvTtlOracleFor(ttlUs: Long): String =
    s"""WITH ranked AS (
      |  SELECT event_type AS namespace, user_id AS key, value, ts,
      |         row_number() OVER (PARTITION BY event_type, user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |t AS (SELECT max(ts) AS mt FROM events)
      |SELECT namespace, key, value, ts,
      |       epoch_us(ts) + CAST($ttlUs AS BIGINT) AS expires_us
      |FROM ranked, t
      |WHERE rn = 1 AND epoch_us(ts) + CAST($ttlUs AS BIGINT) > epoch_us(mt)
      |ORDER BY namespace, key""".stripMargin

  /** The A46 oracle — shared verbatim by the streaming twin A47
    * (last-write state is a max, so the drained state equals the
    * batch pick regardless of batch boundaries).
    */
  private[graft] val kvTtlOracle: String = kvTtlOracleFor(KvRowTtlMicros)

  /** The last-write-per-key aggregation shared by A46 and its
    * streaming twin: max over (ts, event_id, value) structs — the
    * latest-wins rule as a map-side-combinable aggregate (event_id is
    * unique, so the struct order never reaches the value field).
    */
  private[graft] def lastWrites(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type").as("namespace"), col("user_id").as("key"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("lw"))
      .select(col("namespace"), col("key"),
        col("lw.value").as("value"), col("lw.ts").as("ts"))

  /** A46's expiry filter over a `(namespace, key, value, ts)`
    * last-write frame — shared with the streaming twin, whose frame
    * comes from the drained complete-mode sink.
    */
  private[graft] def kvTtlRows(lw0: DataFrame, ttlUs: Long): DataFrame = {
    val lw = lw0.localCheckpoint() // keys-sized; two consumers
    val t = lw.agg(max(col("ts")).as("mt"))
    lw.crossJoin(broadcast(t))
      .filter(unix_micros(col("ts")) + lit(ttlUs) > unix_micros(col("mt")))
      .select(col("namespace"), col("key"), col("value"), col("ts"),
        (unix_micros(col("ts")) + lit(ttlUs)).as("expires_us"))
      .orderBy(col("namespace"), col("key"))
  }

  def kvTtlSnapshotTtl(ttlUs: Long): QueryDef = QueryDef.oracled(
    "kv_ttl_snapshot", kvTtlOracleFor(ttlUs)) { (s, d) =>
    kvTtlRows(lastWrites(ev(s, d)), ttlUs)
  }
  val kvTtlSnapshot = kvTtlSnapshotTtl(KvRowTtlMicros)

  /** All TTL-sensitive A-family queries at a caller-chosen TTL — the
    * reference's `le.renew.ttl.period.ms` knob applied across the whole
    * replay surface at once (each entry keeps its canonical name, so a
    * parameterized verify run is a drop-in for the default one).
    */
  def allTtl(ttlUs: Long): Seq[QueryDef] = Seq(
    leaderElectionReplayTtl(ttlUs), leaderTenuresTtl(ttlUs),
    groupMembershipTtl(ttlUs), groupMembershipLeaveTtl(ttlUs),
    leaderElectionResignTtl(ttlUs), leaderChangeFeedTtl(ttlUs),
    groupChangeFeedTtl(ttlUs))

  def all: Seq[QueryDef] = Seq(
    kvSnapshot, kvFirstWrite, kvKeyset, valueChangeFeed, keysetChangeFeed,
    leaderElectionReplay, leaderTenures, groupMembership, etlUpsertCompact,
    kvStorageReplay, groupMembershipLeave, leaderElectionResign,
    leaderChangeFeed, kvStorageFeed, groupChangeFeed, kvScd2, kvTtlSnapshot,
    valueWatchCoalesced)
}
