package graft.api

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.queries.Coordination
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType, TimestampType}

/** Typed facade mirroring the reference plugin's programmatic surface
  * (README "Storage", "Group Membership";
  * leader/election/CassandraLeaderElection.scala:46-170;
  * listener/registry/CassandraListenerRegistry.scala:28-66) so a caller
  * of the reference can switch API-for-API. Listing and feed calls
  * return unexecuted replay frames over the changelog.
  *
  * The blocking reads (`fetch`, `firstWrite`, `fetchCas`, `isMember`,
  * `getLeader`, `membershipList`) are driver lookups in one compacted
  * state per instance, keyed by (namespace, key) — the reference's
  * compacted Cassandra row (a SERIAL read of one row,
  * CassandraLeaderElection.scala:64-69), kept here the way a streaming
  * state store is: built once, then advanced by deltas. Per key it holds
  * the last event (µs, event_id, value), the first value, the last
  * non-null value, the op digit of the last non-null put/delete
  * boundary, and the start of the current TTL-gap session (only that
  * session can be live: an earlier one ended more than a TTL before it
  * began). Beside the keys: the log end (max µs) and the max event_id.
  *
  *  - Build: the first read makes one Spark pass over the log (a lag
  *    window and one groupBy on the key) and collects one row per key
  *    under [[CoordinationApi.StateKeyCap]], which fails loudly past it.
  *  - Check: every read lists the changelog's data files and compares
  *    each (path, length, mtime) with the set the state was built over.
  *  - Delta: files the state has not seen, and only those, are read in
  *    one small job and folded in — this instance's appends and anyone
  *    else's.
  *  - Rebuild: a removed or rewritten file, or an event at or before its
  *    key's last (µs, event_id), rebuilds from the log through the build
  *    path (TTL-gap sessions depend on order, so no per-key repair).
  *
  * A read with no changed file launches no Spark job. Every answer
  * equals the registered full-replay query it mirrors (spec-checked
  * after every step of random append sequences).
  */
final class CoordinationApi(spark: SparkSession, sfDir: String,
    ttlMicros: Long = graft.queries.Coordination.DefaultTtlMicros,
    pullPeriodMicros: Long =
      graft.queries.Coordination.DefaultPullPeriodMicros) {
  import CoordinationApi.{KeyState, single}

  /** The configured liveness TTL (µs) — reference `le.renew.ttl
    * .period.ms`; every TTL-sensitive view below uses this value: the
    * replay frames through the `*Ttl` query factories, the lookups
    * through the compacted state's sessions and liveness test.
    */
  def ttl: Long = ttlMicros
  /** The configured keyset poll period (µs) — reference
    * `lr.pull.period.ms`. */
  def pullPeriod: Long = pullPeriodMicros

  private def events: DataFrame = Tables.events(spark, sfDir)

  private val eventsPath = s"$sfDir/events.parquet"

  /** Next event_id for [[append]] — 0 = unseeded; first append seeds it
    * from the compacted state's max event_id, later appends are a pure
    * in-process increment (thread-safe within this instance; see the
    * single-writer contract in [[append]]'s scaladoc).
    */
  private val nextEventId = new java.util.concurrent.atomic.AtomicLong(0L)

  // ---- Compacted read state (class doc) ----------------------------------

  /** The compacted state and the data files, (length, mtime) by path,
    * that it holds.
    */
  private final class State(var files: Map[String, (Long, Long)]) {
    val byNs = mutable.HashMap.empty[String, mutable.HashMap[Long, KeyState]]
    var logEndUs = Long.MinValue
    var maxEventId = 0L
    def get(ns: String, key: Long): Option[KeyState] = byNs.get(ns).flatMap(_.get(key))
    def keysOf(ns: String): Iterator[(Long, KeyState)] = byNs.get(ns).iterator.flatten
    def put(ns: String, key: Long, k: KeyState, eventId: Long): Unit = {
      byNs.getOrElseUpdate(ns, mutable.HashMap.empty)(key) = k
      logEndUs = math.max(logEndUs, k.lastUs)
      maxEventId = math.max(maxEventId, eventId)
    }
    /** Live at log end: the key's last event is within the TTL of it. */
    def live(k: KeyState): Boolean = k.lastUs >= logEndUs - ttlMicros
  }

  private var state: State = null

  /** The changelog rows in data files `paths`, with the kept schema
    * (whose inference fails with Spark's own error when there is no
    * data file).
    */
  private def eventsIn(paths: Iterable[String]): DataFrame =
    Tables.withMicroTs(spark.read.schema(Tables.schemaOf(spark, eventsPath))
      .parquet(paths.toSeq.sorted: _*))
      .select(col("event_type"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"), Coordination.opDigit(col("value")).as("op"))

  private def optDouble(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))

  /** The build path: one window-and-groupBy pass over `files`. */
  private def build(files: Map[String, (Long, Long)]): State = {
    val byKey = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("us"), col("event_id"))
    def at(c: Column) = struct(col("us"), col("event_id"), c)
    val rows = graft.queries.Analytics.boundedDriverCollect(eventsIn(files.keys)
        .withColumn("prev_us", lag(col("us"), 1).over(byKey))
        .groupBy(col("event_type"), col("user_id"))
        .agg(max(at(col("value"))), min(at(col("value"))),
          max(when(col("value").isNotNull, at(col("value")))),
          max(when(col("op") <= 3, at(col("op")))),
          max(when(col("prev_us").isNull || col("us") - col("prev_us") > ttlMicros,
            col("us"))),
          max(col("event_id"))),
      CoordinationApi.StateKeyCap, "CoordinationApi's compacted state")
    val st = new State(files)
    rows.foreach { r =>
      val (last, first) = (r.getStruct(2), r.getStruct(3))
      st.put(r.getString(0), r.getLong(1), KeyState(last.getLong(0), last.getLong(1),
        optDouble(last, 2), optDouble(first, 2),
        Option(r.getStruct(4)).flatMap(optDouble(_, 2)),
        Option(r.getStruct(5)).map(_.getLong(2)), r.getLong(6)), r.getLong(7))
    }
    st
  }

  /** The delta path: read the files `st` has not seen and fold them in
    * event order, or rebuild when one sorts at or before its key's last
    * event (or the delta outgrows the driver cap).
    */
  private def fold(st: State, files: Map[String, (Long, Long)]): State = {
    val cap = CoordinationApi.StateKeyCap
    val rows = eventsIn(files.keys.filterNot(st.files.contains))
      .limit(cap + 1).collect()
    val inOrder = rows.length <= cap &&
      rows.sortBy(r => (r.getLong(2), r.getLong(3))).forall { r =>
        val (ns, key, us, eventId) = (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val e = single(us, eventId, optDouble(r, 4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)))
        st.get(ns, key) match {
          case Some(k) if us < k.lastUs || (us == k.lastUs && eventId <= k.lastEventId) =>
            false
          case prev =>
            st.put(ns, key, prev.fold(e)(_.advance(e, ttlMicros)), eventId); true
        }
      }
    if (!inOrder) build(files) else { st.files = files; st }
  }

  /** `f` over the state made current: built on first use, rebuilt when a
    * file it holds is gone or changed, advanced by files it lacks.
    */
  private def read[T](f: State => T): T = synchronized {
    val files = Tables.dataFiles(spark, eventsPath)
    state =
      if (state == null ||
          !state.files.forall { case (p, st) => files.get(p).contains(st) }) build(files)
      else if (files.size > state.files.size) fold(state, files)
      else state
    f(state)
  }

  // ---- Write path (changelog append) -------------------------------------

  /** The changelog's physical ts type, from the session's kept table
    * schema ([[graft.Tables.schemaOf]]): appends write the same type and
    * do not invalidate it, so a mutation reads no footer.
    */
  private def physicalTsType: org.apache.spark.sql.types.DataType =
    Tables.schemaOf(spark, eventsPath)("ts").dataType

  /** The write-side seam: `Storage.put/update/delete`, `join`, `leave`
    * and CAS claims in the reference are WRITES; here the changelog IS
    * the write path, so a mutation is one well-formed appended row and
    * every replay query (and the streaming twins) observes it on the
    * next read — no per-query write plumbing. Requires the deployment's
    * `events.parquet` to be a parquet DIRECTORY (the warehouse layout;
    * appends are new part files — the driver's read-only single-file
    * testdata dirs stay read-only and this throws for them).
    *
    * `op` ∈ put | update | delete, encoded in the payload's cents digit
    * per the A16 convention (round(value·100) % 10: 0 = delete, 1..3 =
    * put, 4..9 = update — [[graft.queries.Coordination.kvStorageReplay]]);
    * the digit is FORCED to the op's canonical value (1 / 4 / 0), so the
    * written payload may differ from `value` by < 0.1. Returns the
    * event_id assigned from an in-process monotonic counter seeded ONCE
    * per CoordinationApi instance from the compacted state's max
    * event_id. SINGLE-WRITER BY CONTRACT: two live
    * CoordinationApi instances (or processes) appending to the same
    * changelog can seed the same base and assign colliding event_ids —
    * a distributed ingest takes ids from the broker offset instead,
    * like the A13 sink. Negative payloads land in the sign-preserved
    * −9..−1 digit class, which replays as PUT — so `update` requires
    * value ≥ 0.
    */
  def append(namespace: String, key: Long, op: String, value: Double,
      ts: java.sql.Timestamp): Long = {
    val digit = op match {
      case "put" => 1L
      case "update" =>
        require(value >= 0, "update payloads must be >= 0 (negative " +
          "cents digits replay as PUT under the A16 convention)")
        4L
      case "delete" => 0L
      case other => throw new IllegalArgumentException(
        s"op must be put|update|delete, got '$other'")
    }
    val cents0 = math.round(value * 100)
    val cents = cents0 - (((cents0 % 10) + 10) % 10) + digit
    val payload = cents / 100.0
    if (nextEventId.get() == 0L) // a losing seeder keeps the winner's seed
      nextEventId.compareAndSet(0L, read(_.maxEventId))
    val eventId = nextEventId.incrementAndGet()
    // ts written in the changelog's PHYSICAL type (footer-read, not the
    // Tables.events-normalized one) so appended part files merge with
    // the existing ones: INT64 nanos for legacy-nanos changelogs,
    // TIMESTAMP_NTZ for micros changelogs (the round-9 generator),
    // TIMESTAMP otherwise — Tables.withMicroTs normalizes all on read
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    import spark.implicits._
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val rawTsType = physicalTsType
    val row = rawTsType match {
      case LongType =>
        val tsNanos = (ts.getTime / 1000L) * 1000000000L + ts.getNanos.toLong
        Seq((eventId, tsNanos, key, namespace, payload,
          null.asInstanceOf[String])).toDF(cols: _*)
      case TimestampNTZType =>
        // session zone is pinned UTC — the wall clock written here is
        // the same instant every LTZ consumer reads back
        val ldt = java.time.LocalDateTime.ofInstant(
          ts.toInstant, java.time.ZoneOffset.UTC)
        Seq((eventId, ldt, key, namespace, payload,
          null.asInstanceOf[String])).toDF(cols: _*)
      case _ =>
        Seq((eventId, ts, key, namespace, payload,
          null.asInstanceOf[String])).toDF(cols: _*)
    }
    try row.coalesce(1).write.mode("append")
      .parquet(eventsPath)
    catch { case e: Throwable =>
      throw new IllegalStateException(
        s"append requires a writable parquet-directory changelog at " +
          s"$sfDir/events.parquet (driver testdata dirs are read-only " +
          "single files)", e)
    }
    eventId
  }

  /** Group membership writes, reference `join(id, supData)` /
    * `leave(id)`: a join is a heartbeat PUT, a leave is a tombstone
    * (README "Group Membership").
    */
  def joinGroup(group: String, member: Long, supData: Double,
      ts: java.sql.Timestamp): Long = append(group, member, "put", supData, ts)

  def leaveGroup(group: String, member: Long, ts: java.sql.Timestamp): Long =
    append(group, member, "delete", 0.0, ts)

  private def latestPerKey(df: DataFrame): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"), col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1).drop("rn")

  // ---- Storage (KV) ------------------------------------------------------

  /** Storage.fetch: latest value for (namespace, key); None if absent
    * (or if the winning write carried a null payload).
    */
  def fetch(namespace: String, key: Long): Option[Double] =
    read(_.get(namespace, key).flatMap(_.lastValue))

  /** Storage replay: which write won under put-if-absent semantics. */
  def firstWrite(namespace: String, key: Long): Option[Double] =
    read(_.get(namespace, key).flatMap(_.firstValue))

  /** The compacted KV table for a namespace (key, value, ts). */
  def snapshot(namespace: String): DataFrame =
    latestPerKey(events.filter(col("event_type") === namespace))
      .select(col("user_id").as("key"), col("value"), col("ts"))

  /** Storage.fetch under the full put/update/delete CAS replay (A16 —
    * the op-type convention documented at
    * [[graft.queries.Coordination.kvStorageReplay]]): None if the key
    * was never PUT, or its last put/delete boundary is a DELETE
    * (update-if-present writes cannot re-create a deleted key). Null
    * payloads carry no op digit and are skipped, as in the distributed
    * replay: the key is present iff its last non-null put-or-delete is
    * a put, and its value is then the last non-null one (every event
    * after the boundary is an update, and updates apply while the key
    * is present).
    */
  def fetchCas(namespace: String, key: Long): Option[Double] =
    read(_.get(namespace, key).filter(_.boundaryOp.exists(_ != 0L))
      .flatMap(_.lastNonNull))

  /** Delete-aware compacted KV table for a namespace (A16 filtered). */
  def snapshotCas(namespace: String): DataFrame =
    graft.queries.Coordination.kvStorageReplay.fn(spark, sfDir)
      .filter(col("namespace") === namespace)
      .select(col("key"), col("value"), col("ts"))

  /** Key listing for a namespace (the KeySetWatcher's poll body). */
  def keySet(namespace: String): DataFrame =
    events.filter(col("event_type") === namespace)
      .select(col("user_id").as("key")).distinct()

  // ---- Leader election ---------------------------------------------------

  /** getLeader after full log replay with TTL semantics: the live
    * candidate whose current session started first (CAS order; ties to
    * the lower id), WITH the winning claim's supplemental payload — the
    * reference returns the pair, not just the owner
    * (leader/election/CassandraLeaderElection.scala:64-69). The payload
    * is the live session's last one, and nullable like the reference's
    * Cassandra column.
    */
  def getLeader(resource: String): Option[(Long, Option[Double])] = read { st =>
    st.keysOf(resource).filter { case (_, k) => st.live(k) }
      .minByOption { case (c, k) => (k.sessionStartUs, c) }
      .map { case (leader, k) => leader -> k.lastValue }
  }

  /** Every leadership tenure of a resource over the log. */
  def tenures(resource: String): DataFrame =
    graft.queries.Coordination.leaderTenuresTtl(ttlMicros).fn(spark, sfDir)
      .filter(col("resource") === resource)

  /** getLeader honoring `resign` (conditional DELETE of the election
    * row, CassandraLeaderElection.scala:144-147): a candidate whose
    * live session ended in a resign is not a contender.
    */
  def getLeaderResignAware(resource: String): Option[(Long, Option[Double])] =
    graft.queries.Coordination.leaderElectionResignTtl(ttlMicros)
      .fn(spark, sfDir).filter(col("resource") === resource)
      .select(col("leader"), col("sup_data")).collect().headOption
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))

  // ---- Group membership --------------------------------------------------

  /** membershipList(): members of `group` alive at log end (heartbeat
    * within TTL), with their latest supplemental data, by member — a
    * local frame with the replay query's columns.
    */
  def membershipList(group: String): DataFrame = {
    val rows = read { st =>
      st.keysOf(group).filter { case (_, k) => st.live(k) }.toSeq
        .sortBy(_._1).map { case (m, k) =>
          Row(m, DateTimeUtils.toJavaTimestamp(k.lastUs), k.lastValue.getOrElse(null))
        }
    }
    spark.createDataFrame(rows.asJava, CoordinationApi.MembershipSchema)
  }

  /** membershipList honoring `leave(id)`: a member whose latest record
    * is a tombstone is out regardless of heartbeat recency (A17).
    */
  def membershipListLeaveAware(group: String): DataFrame =
    graft.queries.Coordination.groupMembershipLeaveTtl(ttlMicros)
      .fn(spark, sfDir)
      .filter(col("grp") === group)
      .select(col("member"), col("last_heartbeat"), col("sup_data"))

  /** Liveness check for a single member: its last heartbeat is within
    * TTL of the log end.
    */
  def isMember(group: String, member: Long): Boolean =
    read(st => st.get(group, member).exists(st.live))

  // ---- Listeners (change feeds) ------------------------------------------

  /** ValueChangeListener replay: every (key, ts, value) transition in a
    * namespace, first sighting included.
    */
  def valueChanges(namespace: String): DataFrame =
    graft.queries.Coordination.valueChangeFeed.fn(spark, sfDir)
      .filter(col("namespace") === namespace)
      .select(col("key"), col("ts"), col("event_id"), col("value"))

  /** KeySetChangeListener replay: the ticks where a namespace's key set
    * changed, with the canonical digest.
    */
  def keySetChanges(namespace: String): DataFrame =
    graft.queries.Coordination.keysetChangeFeedPeriod(pullPeriodMicros)
      .fn(spark, sfDir)
      .filter(col("namespace") === namespace)
      .select(col("tick"), col("n_keys"), col("digest"))

  /** Per-tick key sets of a namespace — the KeySetWatcher's fetcher
    * body (one row per (tick, key); same tick/key shape as the A5
    * feed's `ks` stage). Drives [[ListenerRegistry.replayKeySetChanges]].
    */
  def keySetsByTick(namespace: String): DataFrame =
    graft.queries.Coordination.keysetTicksPeriod(spark, sfDir,
        pullPeriodMicros)
      .filter(col("event_type") === namespace)
      .select(col("tick"), col("k"))

  /** LeaderChangeListener replay: every onLeaderChange firing for a
    * resource over the log (A23 feed — the fold shared with the live
    * A12 operator). Drives [[ListenerRegistry.replayLeaderChanges]].
    */
  def leaderChanges(resource: String): DataFrame =
    graft.queries.Coordination.leaderChangeFeedTtl(ttlMicros).fn(spark, sfDir)
      .filter(col("resource") === resource)
      .select(col("ts"), col("event_id"), col("new_leader"), col("prev_leader"))

  /** Storage mutation replay: every APPLIED put/update/delete in a
    * namespace (A24 feed — an update against an absent key never
    * appears). Drives [[ListenerRegistry.replayStorageMutations]].
    */
  def storageMutations(namespace: String): DataFrame =
    graft.queries.Coordination.kvStorageFeed.fn(spark, sfDir)
      .filter(col("namespace") === namespace)
      .select(col("key"), col("ts"), col("event_id"), col("op"),
        col("new_value"))

  /** Group membership change replay: every join/leave/expire transition
    * of a group over the log (A27 feed) — the event-level form the
    * reference's `onGroupChange(membership)` poller diffs its way to.
    * Drives [[ListenerRegistry.replayGroupEvents]].
    */
  def groupChanges(group: String): DataFrame =
    graft.queries.Coordination.groupChangeFeedWithId(spark, sfDir, ttlMicros)
      .filter(col("grp") === group)
      .select(col("member"), col("event"), col("ts_us"), col("event_id"))
}

object CoordinationApi {

  /** One key's compacted history. `boundaryOp` is the op digit of the
    * last non-null put-or-delete (≤ 3, negatives included), and
    * `sessionStartUs` the first µs of the current TTL-gap session.
    */
  private final case class KeyState(lastUs: Long, lastEventId: Long,
      lastValue: Option[Double], firstValue: Option[Double],
      lastNonNull: Option[Double], boundaryOp: Option[Long],
      sessionStartUs: Long) {
    /** This key after `e`, which sorts after its last event. */
    def advance(e: KeyState, ttlUs: Long): KeyState = e.copy(
      firstValue = firstValue,
      lastNonNull = e.lastValue.orElse(lastNonNull),
      boundaryOp = e.boundaryOp.orElse(boundaryOp),
      sessionStartUs = if (e.lastUs - lastUs > ttlUs) e.lastUs else sessionStartUs)
  }

  /** One event as a key's whole history. */
  private def single(us: Long, eventId: Long, value: Option[Double],
      op: Option[Long]): KeyState =
    KeyState(us, eventId, value, value, value, op.filter(_ <= 3), us)

  /** The most keys the compacted state collects to the driver (and the
    * most rows one delta read folds; a larger delta rebuilds instead).
    */
  private[graft] val StateKeyCap: Int = 1 << 20

  private val MembershipSchema = new StructType().add("member", LongType)
    .add("last_heartbeat", TimestampType).add("sup_data", DoubleType)
}
