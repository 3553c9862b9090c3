package graft.api

import graft.Tables
import graft.functions.expressions.bound_long
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Typed facade mirroring the reference plugin's programmatic surface
  * (README "Storage", "Group Membership";
  * leader/election/CassandraLeaderElection.scala:46-170;
  * listener/registry/CassandraListenerRegistry.scala:28-66) so a caller
  * of the reference can switch API-for-API. Reads are replay queries
  * over the changelog; each returns a DataFrame (or Option for point
  * lookups) instead of blocking on a live Cassandra session — same
  * information, warehouse-scale execution.
  *
  * All methods are driver-light: point reads return O(1) rows to the
  * driver; listing calls return unexecuted frames.
  *
  * The key-parameterised reads (`fetch`, `firstWrite`, `fetchCas`,
  * `isMember`) bind the key with [[graft.functions.expressions.BoundLong]]
  * rather than a literal, so each read kind compiles its generated code
  * once and every later key reuses it — the reference's prepared
  * `SELECT … WHERE key=?` (CassandraListenerRegistry.scala:28-66). The
  * trade-off: the key predicate is evaluated after the scan instead of
  * being pushed into the parquet reader (the namespace predicate still
  * is), so a point read skips only the row groups whose namespace
  * statistics exclude it.
  */
final class CoordinationApi(spark: SparkSession, sfDir: String,
    ttlMicros: Long = graft.queries.Coordination.DefaultTtlMicros,
    pullPeriodMicros: Long =
      graft.queries.Coordination.DefaultPullPeriodMicros) {

  /** The configured liveness TTL (µs) — reference `le.renew.ttl
    * .period.ms`; every TTL-sensitive view below is built from the
    * `*Ttl` query factories at this value, so API answers and the
    * replay queries cannot disagree.
    */
  def ttl: Long = ttlMicros
  /** The configured keyset poll period (µs) — reference
    * `lr.pull.period.ms`. */
  def pullPeriod: Long = pullPeriodMicros

  private def events: DataFrame = Tables.events(spark, sfDir)

  /** Next event_id for [[append]] — 0 = unseeded; first append seeds it
    * from the log end, later appends are a pure in-process increment
    * (thread-safe within this instance; see the single-writer contract
    * in [[append]]'s scaladoc).
    */
  private val nextEventId = new java.util.concurrent.atomic.AtomicLong(0L)

  // ---- Write path (changelog append) -------------------------------------

  /** The changelog's physical ts type, from the session's kept table
    * schema ([[graft.Tables.schemaOf]]): appends write the same type and
    * do not invalidate it, so a mutation reads no footer.
    */
  private def physicalTsType: org.apache.spark.sql.types.DataType =
    Tables.schemaOf(spark, s"$sfDir/events.parquet")("ts").dataType

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
    * per CoordinationApi instance by a full-log max() scan (O(log) once,
    * not per mutation). SINGLE-WRITER BY CONTRACT: two live
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
    if (nextEventId.get() == 0L) {
      val logEnd = events.agg(max(col("event_id"))).collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
      nextEventId.compareAndSet(0L, logEnd) // loser keeps the winner's seed
    }
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
      .parquet(s"$sfDir/events.parquet")
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

  /** One key's events; the key is bound, not inlined (class doc). */
  private def keyEvents(namespace: String, key: Long): DataFrame =
    events.filter(col("event_type") === namespace &&
      col("user_id") === bound_long(key))

  private def pointLookup(namespace: String, key: Long, latest: Boolean): Option[Double] =
    keyEvents(namespace, key)
      .orderBy(
        if (latest) col("ts").desc else col("ts").asc,
        if (latest) col("event_id").desc else col("event_id").asc)
      .select(col("value")).limit(1).collect().headOption
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))

  /** Storage.fetch: latest value for (namespace, key); None if absent
    * (or if the winning write carried a null payload). Every key shares
    * one compiled plan: the namespace predicate reaches the parquet
    * reader, the bound key is filtered after the scan (see the class
    * doc for the trade-off).
    */
  def fetch(namespace: String, key: Long): Option[Double] =
    pointLookup(namespace, key, latest = true)

  /** Storage replay: which write won under put-if-absent semantics. */
  def firstWrite(namespace: String, key: Long): Option[Double] =
    pointLookup(namespace, key, latest = false)

  /** The compacted KV table for a namespace (key, value, ts). */
  def snapshot(namespace: String): DataFrame =
    latestPerKey(events.filter(col("event_type") === namespace))
      .select(col("user_id").as("key"), col("value"), col("ts"))

  /** Storage.fetch under the full put/update/delete CAS replay (A16 —
    * the op-type convention documented at
    * [[graft.queries.Coordination.kvStorageReplay]]): None if the key
    * was never PUT, or its last put/delete boundary is a DELETE
    * (update-if-present writes cannot re-create a deleted key).
    *
    * One global aggregate over the key's non-null events (null payloads
    * carry no op digit and fall out of the distributed replay too): the
    * last put-or-delete (op ≤ 3, negatives included) is the boundary,
    * and the key is present iff it exists and is not a delete. Its value
    * is then the last event's: every event after the boundary is an
    * update, and updates apply while the key is present. Two jobs and
    * O(1) driver memory whatever the key's history length; spec-checked
    * equal to the sequential fold and to the distributed replay.
    */
  def fetchCas(namespace: String, key: Long): Option[Double] = {
    val e = struct(unix_micros(col("ts")).as("us"), col("event_id"),
      graft.queries.Coordination.opDigit(col("value")).as("op"), col("value"))
    val r = keyEvents(namespace, key).filter(col("value").isNotNull)
      .select(e.as("e"))
      .agg(max(when(col("e.op") <= 3, col("e"))), max(col("e")))
      .collect()(0)
    if (r.isNullAt(0) || r.getStruct(0).getLong(2) == 0L) None
    else Some(r.getStruct(1).getDouble(3))
  }

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
    * candidate whose current session started first (CAS order), WITH
    * the winning claim's supplemental payload — the reference returns
    * the pair, not just the owner
    * (leader/election/CassandraLeaderElection.scala:64-69).
    */
  def getLeader(resource: String): Option[(Long, Option[Double])] =
    graft.queries.Coordination.leaderElectionReplayTtl(ttlMicros)
      .fn(spark, sfDir).filter(col("resource") === resource)
      .select(col("leader"), col("sup_data")).collect().headOption
      // sup_data is nullable (a claim may carry a null payload, like
      // the reference's nullable Cassandra column) — never getDouble it
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))

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
    * within TTL), with their latest supplemental data.
    */
  def membershipList(group: String): DataFrame =
    graft.queries.Coordination.groupMembershipTtl(ttlMicros).fn(spark, sfDir)
      .filter(col("grp") === group)
      .select(col("member"), col("last_heartbeat"), col("sup_data"))

  /** membershipList honoring `leave(id)`: a member whose latest record
    * is a tombstone is out regardless of heartbeat recency (A17).
    */
  def membershipListLeaveAware(group: String): DataFrame =
    graft.queries.Coordination.groupMembershipLeaveTtl(ttlMicros)
      .fn(spark, sfDir)
      .filter(col("grp") === group)
      .select(col("member"), col("last_heartbeat"), col("sup_data"))

  /** Liveness check for a single member: one scan computes both the
    * global log end and the member's last heartbeat.
    */
  def isMember(group: String, member: Long): Boolean = {
    val row = events.agg(
      max(unix_micros(col("ts"))).as("log_end"),
      max(when(col("event_type") === group &&
          col("user_id") === bound_long(member),
        unix_micros(col("ts")))).as("member_hb")).collect()(0)
    !row.isNullAt(0) && !row.isNullAt(1) &&
      row.getLong(1) >= row.getLong(0) - ttlMicros
  }

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
