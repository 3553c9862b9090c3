package graft.api

import scala.collection.mutable

import org.apache.spark.sql.functions._

/** Callback fired when a watched key's value changes (None = the
  * winning write carried a null payload).
  */
trait ValueChangeListener { def valueChanged(value: Option[Double]): Unit }

/** Callback fired when a watched namespace's key set changes. */
trait KeySetChangeListener { def keySetChanged(keySet: Set[String]): Unit }

/** Callback fired when a watched resource's leadership changes —
  * mirrors `LeaderChangeListener.onLeaderChange(newValue)` of the
  * reference (CassandraLeaderElection.scala:149-159, fired at
  * :129-135). The replay feed carries acquisitions (a leader lapse is
  * only OBSERVED at the next claim, exactly as in the reference's
  * TTL-expiring Cassandra row), so `newLeader` is always defined here;
  * the Option mirrors the reference signature, where a live poll can
  * also see the no-leader window.
  */
trait LeaderChangeListener { def onLeaderChange(newLeader: Option[Long]): Unit }

/** Callback fired when a watched group's membership changes — the
  * `GroupMembershipClient.Listener.onGroupChange(membership)` shape of
  * the reference README, membership typed to graft's Long member ids.
  */
trait GroupMembershipListener { def onGroupChange(membership: Set[Long]): Unit }

/** Callback fired for every APPLIED mutation of a watched key — the
  * Storage-iface shape of the value watcher: an update against an
  * absent key never fires, a delete fires only when there was
  * something to delete (the A24 `kv_storage_feed` contract).
  * `newValue` is None exactly for deletes.
  */
trait StorageMutationListener {
  def onMutation(op: String, newValue: Option[Double]): Unit
}

/** The reference registry's attach/detach bookkeeping
  * (listener/registry/CacheListenerRegistry.scala:83-173) re-expressed
  * over the replay feeds: per-key listener lists under one lock, the
  * FIRST add of a key attaches its watcher, the LAST remove detaches
  * it, and additional listeners piggyback on the existing watcher.
  *
  * The reference's watcher is a polling thread against live Cassandra;
  * polling threads are scoped out here (SURVEY §6 — no broker in the
  * container), so a watcher is attach-state and `replay*` plays a
  * namespace's materialized change feed through every attached
  * listener in feed order — the same valueChanged/keySetChanged
  * delivery the poller would produce, including the compare-to-cached
  * dedup of KeySetWatcher.run. Delivery is necessarily driver-side
  * (callbacks are local closures) and bounded by the watched keys'
  * feed rows.
  */
final class ListenerRegistry(api: CoordinationApi) {

  private val lock = new Object

  private def feedRows(df: org.apache.spark.sql.DataFrame,
      order: org.apache.spark.sql.Column*): Iterator[org.apache.spark.sql.Row] =
    FeedIter.rows(df, order: _*)

  /** One listener kind's per-key lists under the registry lock. A key
    * is watched (a live ScheduledFuture in the reference) iff its list
    * is non-empty: the first add attaches, the last remove detaches.
    */
  private final class Watchers[K, L] {
    private val byKey = mutable.HashMap.empty[K, mutable.ListBuffer[L]]
    def add(k: K, l: L): Unit = lock.synchronized {
      byKey.getOrElseUpdate(k, mutable.ListBuffer.empty) += l
    }
    def remove(k: K, l: L): Unit = lock.synchronized {
      byKey.get(k).foreach { ls => ls -= l; if (ls.isEmpty) byKey.remove(k) }
    }
    def has(k: K): Boolean = lock.synchronized(byKey.contains(k))
    def keys: Set[K] = lock.synchronized(byKey.keySet.toSet)
    /** A snapshot: a callback may add or remove listeners. */
    def of(k: K): List[L] = lock.synchronized(byKey.get(k).map(_.toList).getOrElse(Nil))
  }

  private val values = new Watchers[(String, Long), ValueChangeListener]
  private val keySets = new Watchers[String, KeySetChangeListener]
  private val leaders = new Watchers[String, LeaderChangeListener]
  private val groups = new Watchers[String, GroupMembershipListener]
  private val mutations = new Watchers[(String, Long), StorageMutationListener]

  def addValueChangeListener(namespace: String, key: Long,
      listener: ValueChangeListener): Unit = values.add((namespace, key), listener)
  def removeValueChangeListener(namespace: String, key: Long,
      listener: ValueChangeListener): Unit = values.remove((namespace, key), listener)
  def addKeySetChangeListener(namespace: String,
      listener: KeySetChangeListener): Unit = keySets.add(namespace, listener)
  def removeKeySetChangeListener(namespace: String,
      listener: KeySetChangeListener): Unit = keySets.remove(namespace, listener)

  /** addListener(LeaderChangeListener) of the reference
    * (CassandraLeaderElection.scala:149-153), per resource; the first
    * add attaches the watcher, extras piggyback.
    */
  def addLeaderChangeListener(resource: String,
      listener: LeaderChangeListener): Unit = leaders.add(resource, listener)

  /** removeListener (CassandraLeaderElection.scala:155-159); the last
    * remove detaches the watcher.
    */
  def removeLeaderChangeListener(resource: String,
      listener: LeaderChangeListener): Unit = leaders.remove(resource, listener)

  def addGroupMembershipListener(group: String,
      listener: GroupMembershipListener): Unit = groups.add(group, listener)
  def removeGroupMembershipListener(group: String,
      listener: GroupMembershipListener): Unit = groups.remove(group, listener)
  def addStorageMutationListener(namespace: String, key: Long,
      listener: StorageMutationListener): Unit = mutations.add((namespace, key), listener)
  def removeStorageMutationListener(namespace: String, key: Long,
      listener: StorageMutationListener): Unit =
    mutations.remove((namespace, key), listener)

  def hasValueWatcher(namespace: String, key: Long): Boolean =
    values.has((namespace, key))
  def hasKeySetWatcher(namespace: String): Boolean = keySets.has(namespace)
  def hasLeaderWatcher(resource: String): Boolean = leaders.has(resource)
  def hasGroupWatcher(group: String): Boolean = groups.has(group)
  def hasMutationWatcher(namespace: String, key: Long): Boolean =
    mutations.has((namespace, key))

  /** The keys of `namespace` that have `table` listeners. */
  private def watchedKeys(table: Watchers[(String, Long), _],
      namespace: String): Seq[Long] =
    table.keys.collect { case (ns, k) if ns == namespace => k }.toSeq

  /** KeySetWatcher.run's compare-and-fire body, replayed over `name`'s
    * per-tick key sets: `fire` runs only when a tick's set, decoded by
    * `decode`, differs from the cached one. Returns the number of
    * firings.
    */
  private def replayTicks[A, L](table: Watchers[String, L], name: String)(
      decode: Seq[String] => A)(fire: (L, A) => Unit): Long = {
    if (!table.has(name)) return 0L
    // the per-tick set assembles CLUSTER-side (one tick's key set is
    // the unit a listener consumes anyway); the driver streams one
    // tick row at a time instead of holding the whole feed
    val ticks = feedRows(api.keySetsByTick(name)
      .groupBy(col("tick")).agg(collect_set(col("k")).as("ks")),
      col("tick"))
    var cached = Option.empty[A]
    var fired = 0L
    ticks.foreach { r =>
      val a = decode(r.getAs[scala.collection.Seq[String]]("ks").toSeq)
      if (!cached.contains(a)) {
        cached = Some(a)
        table.of(name).foreach(fire(_, a))
        fired += 1
      }
    }
    fired
  }

  /** Play the namespace's value-change feed (A4 semantics, first
    * sighting included) through the attached per-key listeners in feed
    * order. Returns delivered rows.
    */
  def replayValueChanges(namespace: String): Long = {
    val watched = watchedKeys(values, namespace)
    if (watched.isEmpty) return 0L
    var delivered = 0L
    feedRows(api.valueChanges(namespace)
        .filter(col("key").isin(watched: _*)),
        col("ts"), col("event_id")).foreach { r =>
      val key = r.getAs[Long]("key")
      val v = if (r.isNullAt(r.fieldIndex("value"))) None
              else Some(r.getAs[Double]("value"))
      values.of((namespace, key)).foreach(_.valueChanged(v))
      delivered += 1
    }
    delivered
  }

  /** Play the namespace's per-tick key sets through the attached
    * listeners, firing only when the set differs from the cached one —
    * KeySetWatcher.run's compare-and-fire body, replayed. Returns the
    * number of change firings (== the A5 feed's row count for the
    * namespace).
    */
  def replayKeySetChanges(namespace: String): Long =
    replayTicks(keySets, namespace)(_.toSet)(_.keySetChanged(_))

  /** Play the resource's leader-change feed (A23, the onLeaderChange
    * firing loop of CassandraLeaderElection.scala:129-135) through the
    * attached listeners in feed order. Returns the number of firings
    * (== the feed's row count for the resource).
    */
  def replayLeaderChanges(resource: String): Long = {
    if (!hasLeaderWatcher(resource)) return 0L
    var fired = 0L
    feedRows(api.leaderChanges(resource),
        col("ts"), col("event_id")).foreach { r =>
      leaders.of(resource).foreach(_.onLeaderChange(Some(r.getAs[Long]("new_leader"))))
      fired += 1
    }
    fired
  }

  /** Play the namespace's applied-mutation feed (A24 semantics) through
    * the attached per-key listeners in feed order. Returns delivered
    * rows.
    */
  def replayStorageMutations(namespace: String): Long = {
    val watched = watchedKeys(mutations, namespace)
    if (watched.isEmpty) return 0L
    var delivered = 0L
    feedRows(api.storageMutations(namespace)
        .filter(col("key").isin(watched: _*)),
        col("ts"), col("event_id")).foreach { r =>
      val key = r.getAs[Long]("key")
      val v = if (r.isNullAt(r.fieldIndex("new_value"))) None
              else Some(r.getAs[Double]("new_value"))
      mutations.of((namespace, key)).foreach(_.onMutation(r.getAs[String]("op"), v))
      delivered += 1
    }
    delivered
  }

  /** Play the group's per-tick membership through the attached
    * listeners — onGroupChange(membership) of the reference README —
    * firing only when the member set differs from the cached one (the
    * same compare-and-fire dedup as the key-set watcher, typed to
    * member ids). Returns the number of firings.
    */
  def replayGroupChanges(group: String): Long =
    replayTicks(groups, group)(_.map(_.toLong).toSet)(_.onGroupChange(_))

  /** Play the group's join/leave/expire feed (A27) through the attached
    * listeners: fold the transitions into the evolving member set and
    * fire onGroupChange after each one — the event-exact form of the
    * reference poller's diff-and-fire loop (replayGroupChanges is its
    * tick-sampled form; this one observes every transition, including
    * those inside one poll interval). Returns the number of firings
    * (== the feed's row count for the group).
    */
  def replayGroupEvents(group: String): Long = {
    if (!hasGroupWatcher(group)) return 0L
    // Order by (ts_us, event_id): the log tiebreaks same-micros records
    // on event_id, so the fold's observed member sets are deterministic
    // even when a join and a leave share a timestamp. (An expire's
    // event_id is its source record's — still a total, stable order.)
    var members = Set.empty[Long]
    var fired = 0L
    feedRows(api.groupChanges(group),
        col("ts_us"), col("event_id")).foreach { r =>
      val m = r.getAs[Long]("member")
      members = r.getAs[String]("event") match {
        case "join" => members + m
        case _      => members - m           // leave | expire
      }
      groups.of(group).foreach(_.onGroupChange(members))
      fired += 1
    }
    fired
  }
}
