package graft

import graft.api.CoordinationApi
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class CoordinationApiSpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val api = new CoordinationApi(spark, sf)

  test("fetch returns the latest value per key; firstWrite the first") {
    val ns = "click"
    val byKey = Tables.events(spark, sf)
      .filter(col("event_type") === ns)
      .orderBy(col("ts"), col("event_id"))
      .select(col("user_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val someKey = byKey.head._1
    val expectedLatest = byKey.filter(_._1 == someKey).last._2
    val expectedFirst = byKey.filter(_._1 == someKey).head._2
    assert(api.fetch(ns, someKey).contains(expectedLatest))
    assert(api.firstWrite(ns, someKey).contains(expectedFirst))
    assert(api.fetch(ns, 999999L).isEmpty)
  }

  test("snapshot and keySet agree with the registry queries") {
    val snap = api.snapshot("view")
    val full = SparkEntry.queries("kv_snapshot")(spark, sf)
      .filter(col("namespace") === "view")
    assert(snap.count() == full.count())
    assert(api.keySet("view").count() == full.count())
  }

  test("getLeader matches the replay query; membership is consistent") {
    val replay = SparkEntry.queries("leader_election_replay")(spark, sf)
      .collect().map(r => r.getAs[String]("resource") ->
        (r.getAs[Long]("leader"),
          Option(r.get(r.fieldIndex("sup_data"))).map(_.asInstanceOf[Double])))
      .toMap
    replay.foreach { case (res, pair) =>
      assert(api.getLeader(res).contains(pair))
    }
    val members = SparkEntry.queries("group_membership")(spark, sf)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("member")))
    members.take(3).foreach { case (g, m) => assert(api.isMember(g, m)) }
    assert(!api.isMember("click", 999999L))
  }

  test("fetchCas equals the distributed kv_storage_replay") {
    val replay = SparkEntry.queries("kv_storage_replay")(spark, sf)
      .filter(col("namespace") === "click").collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Double]("value")).toMap
    val allKeys = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("user_id")).distinct().collect().map(_.getLong(0))
    // every key: present in the replay iff fetchCas returns it, same value
    allKeys.foreach { k =>
      assert(api.fetchCas("click", k) == replay.get(k), s"key $k")
    }
    // deleted/never-put keys exist (replay has fewer keys than the raw set)
    assert(replay.size < allKeys.length)
    assert(api.snapshotCas("click").count() == replay.size)
  }

  /** A writable copy of sf0.001's changelog: a parquet directory holding
    * the one base file, the layout `append` writes into.
    */
  private def writableChangelog(prefix: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory(prefix).toString
    Files.createDirectory(Paths.get(s"$dir/events.parquet"))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/events.parquet/base.parquet"))
    dir
  }

  private def timestampAt(us: Long): java.sql.Timestamp =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(us)

  /** (log end µs, max event_id) of `dir`'s changelog. */
  private def logEndOf(dir: String): (Long, Long) = {
    val r = Tables.events(spark, dir).agg(max(unix_micros(col("ts"))),
      max(col("event_id"))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** `rows` of (event_id, µs, user_id, event_type, nullable value) as a
    * frame in the physical layout of `dir`'s changelog.
    */
  private def rawEvents(dir: String, rows: Seq[Row]): DataFrame = {
    val tsType = Tables.schemaOf(spark, s"$dir/events.parquet")("ts").dataType
    val schema = new StructType().add("event_id", LongType).add("us", LongType)
      .add("user_id", LongType).add("event_type", StringType)
      .add("value", DoubleType)
    val ts = tsType match {
      case LongType => col("us") * 1000L // legacy INT64 nanos changelog
      case t => timestamp_micros(col("us")).cast(t)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .select(col("event_id"), ts.as("ts"), col("user_id"), col("event_type"),
        col("value"), lit(null).cast(StringType).as("props"))
  }

  test("coordination reads launch no job warm and at most one after an append") {
    val dir = writableChangelog("graft_jobs")
    val wapi = new CoordinationApi(spark, dir)
    val (end, _) = logEndOf(dir)
    val k = Tables.events(spark, dir).filter(col("event_type") === "click")
      .select(col("user_id")).head().getLong(0)
    val reads: Seq[(String, () => Any)] = Seq(
      "fetch" -> (() => wapi.fetch("click", k)),
      "firstWrite" -> (() => wapi.firstWrite("click", k)),
      "fetchCas" -> (() => wapi.fetchCas("click", k)),
      "isMember" -> (() => wapi.isMember("click", k)),
      "getLeader" -> (() => wapi.getLeader("click")),
      "membershipList" -> (() => wapi.membershipList("click").collect().toSeq))
    reads.head._2() // the build
    def jobs(read: () => Any) = JobCounter.during(spark.sparkContext)(read())._2
    reads.zipWithIndex.foreach { case ((name, read), i) =>
      assert(jobs(read) == 0, s"warm $name launched Spark jobs")
      wapi.append("click", k, "put", (201 + 100 * i) / 100.0,
        timestampAt(end + 1000000L * (i + 1)))
      val first = jobs(read)
      assert(first <= 1, s"$name after an append launched $first jobs")
      assert(jobs(read) == 0, s"$name after the fold launched Spark jobs")
    }
    assert(wapi.fetch("click", k).contains(7.01))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** The sequential reference for `fetchCas`: the key's events in
    * (ts, event_id) order, null payloads skipped, each event's op digit
    * applied in turn on the driver.
    */
  private def foldCas(dir: String, ns: String, key: Long): Option[Double] = {
    val rows = Tables.events(spark, dir)
      .filter(col("event_type") === ns && col("user_id") === key)
      .select(unix_micros(col("ts")), col("event_id"), col("value")).collect()
      .sortBy(r => (r.getLong(0), r.getLong(1)))
    var present = false
    var value = 0.0
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        val v = r.getDouble(2)
        val op =
          if (v.isNaN) 0L
          else if (v * 100 >= Long.MaxValue.toDouble) Long.MaxValue % 10
          else if (v * 100 <= Long.MinValue.toDouble) Long.MinValue % 10
          else BigDecimal(v * 100)
            .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
            .toLong % 10
        op match {
          case 0           => present = false          // delete
          case o if o <= 3 => present = true; value = v // put
          case _ if present => value = v                // update applies
          case _           => ()                        // update ignored
        }
      }
    }
    if (present) Some(value) else None
  }

  /** Every read of `wapi` against the registered full-replay queries
    * over `dir`, for every key of the log plus a never-written one, and
    * `fetchCas` of the `touched` keys against [[foldCas]] too.
    */
  private def assertReadsReplay(wapi: CoordinationApi, dir: String,
      touched: Seq[(String, Long)], step: String): Unit = {
    import graft.queries.Coordination._
    def opt(r: Row, f: String) =
      Option(r.get(r.fieldIndex(f))).map(_.asInstanceOf[Double])
    // NaN payloads compare by text: Some(NaN) != Some(NaN) in Scala
    def show(v: Option[Double]) = v.map(_.toString)
    def byKey(q: QueryDef, f: String) = q.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> show(opt(r, f))).toMap
    val (latest, first, cas) = (byKey(kvSnapshot, "value"),
      byKey(kvFirstWrite, "first_value"), byKey(kvStorageReplay, "value"))
    val members = groupMembership.fn(spark, dir).collect().toSeq
      .groupBy(_.getString(0)).map { case (g, rs) => g -> rs.map(r =>
        (r.getLong(1), r.getTimestamp(2), show(opt(r, "sup_data")))).sortBy(_._1) }
    val leaders = leaderElectionReplay.fn(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), show(opt(r, "sup_data")))).toMap
    (latest.keySet + (("click", 880001L))).foreach { case k @ (ns, key) =>
      assert(show(wapi.fetch(ns, key)) == latest.get(k).flatten, s"$step: fetch $k")
      assert(show(wapi.firstWrite(ns, key)) == first.get(k).flatten,
        s"$step: firstWrite $k")
      assert(show(wapi.fetchCas(ns, key)) == cas.get(k).flatten, s"$step: fetchCas $k")
      assert(wapi.isMember(ns, key) == members.getOrElse(ns, Nil).exists(_._1 == key),
        s"$step: isMember $k")
    }
    latest.keySet.map(_._1).foreach { ns =>
      assert(wapi.getLeader(ns).map { case (l, v) => (l, show(v)) } == leaders.get(ns),
        s"$step: getLeader $ns")
      val list = wapi.membershipList(ns)
      assert(list.collect().toSeq.map(r => (r.getLong(0), r.getTimestamp(1),
        show(opt(r, "sup_data")))) == members.getOrElse(ns, Nil),
        s"$step: membershipList $ns")
      assert(list.schema == groupMembership.fn(spark, dir)
        .select("member", "last_heartbeat", "sup_data").schema)
    }
    touched.foreach { case (ns, key) =>
      assert(wapi.fetchCas(ns, key) == foldCas(dir, ns, key), s"$step: foldCas ($ns, $key)")
    }
  }

  /** Seeded random changelog histories, one table row per seed: API
    * writes of every kind (late ones included), part files added outside
    * `append` with NaN, ±Inf and null payloads at in-order and late
    * times, part files removed, and part files rewritten in place. After
    * every step each of the six reads must equal the full replay.
    */
  Seq(1L, 2L, 3L).foreach { seed =>
    test(s"compacted API state equals the full replay after every step (seed $seed)") {
      import java.nio.file.{Files, Path, Paths, StandardCopyOption}
      import scala.jdk.CollectionConverters._
      val dir = writableChangelog("graft_state")
      val log = Paths.get(s"$dir/events.parquet")
      val wapi = new CoordinationApi(spark, dir)
      val rng = new scala.util.Random(seed)
      val (startUs, endUs) = {
        val r = Tables.events(spark, dir).agg(min(unix_micros(col("ts"))),
          max(unix_micros(col("ts")))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val baseKeys = Tables.events(spark, dir).select(col("user_id")).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      val keys = baseKeys.take(3) ++ Seq(990001L, 990002L)
      val namespaces = Seq("click", "signup", "view")
      def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
      var clock = endUs
      def inOrder(): Long = { clock += 1000000L * (1 + rng.nextInt(7200)); clock }
      // before every base key's last event
      def late(): Long = startUs + rng.nextInt(1000)
      def when(): Long = if (rng.nextInt(4) == 0) late() else inOrder()
      def payload(): java.lang.Double = rng.nextInt(8) match {
        case 0 => null
        case 1 => Double.NaN
        case 2 => Double.PositiveInfinity
        case 3 => Double.NegativeInfinity
        case _ => rng.nextInt(50000) / 100.0 // every op digit
      }
      var rawId = 10000000L
      def rawRow(): Row = {
        rawId += 1
        Row(rawId, when(), pick(keys), pick(namespaces), payload())
      }
      // the files this spec wrote beside `append`, with their rows
      val raw = scala.collection.mutable.LinkedHashMap.empty[Path, Seq[Row]]
      def writeRaw(path: Path, rows: Seq[Row]): Unit = {
        val tmp = Files.createTempDirectory("graft_raw")
        rawEvents(dir, rows).coalesce(1).write.parquet(s"$tmp/out")
        val part = Files.list(Paths.get(s"$tmp/out")).iterator().asScala
          .find(_.getFileName.toString.matches("part-.*\\.parquet")).get
        Files.move(part, path, StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
        raw(path) = rows
      }
      def addFile(): Seq[(String, Long)] = {
        val rows = Seq.fill(1 + rng.nextInt(3))(rawRow())
        writeRaw(log.resolve(s"raw-$rawId.parquet"), rows)
        rows.map(r => (r.getString(3), r.getLong(2)))
      }
      def apiWrite(kind: String, us: Long): Seq[(String, Long)] = {
        val (ns, key, ts) = (pick(namespaces), pick(keys), timestampAt(us))
        val v = rng.nextInt(50000) / 100.0
        kind match {
          case "joinGroup" => wapi.joinGroup(ns, key, v, ts)
          case "leaveGroup" => wapi.leaveGroup(ns, key, ts)
          case op => wapi.append(ns, key, op, v, ts)
        }
        Seq(ns -> key)
      }
      def run(kind: String): Seq[(String, Long)] = kind match {
        case "add" => addFile()
        case "late" => apiWrite(pick(Seq("put", "update", "delete")), late())
        case "remove" =>
          val added = Files.list(log).iterator().asScala.toSeq
            .filter(p => p.getFileName.toString.matches("(part|raw)-.*\\.parquet"))
          if (added.isEmpty) addFile()
          else {
            val p = pick(added.sortBy(_.toString))
            Files.delete(p)
            Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
            raw.remove(p)
            Nil
          }
        case "rewrite" =>
          val fresh = if (raw.isEmpty) addFile() else Nil
          val (p, rows) = pick(raw.toSeq)
          val mtime = Files.getLastModifiedTime(p).toMillis
          val i = rng.nextInt(rows.size)
          writeRaw(p, rows.updated(i, Row.fromSeq(rows(i).toSeq.updated(4, payload()))))
          Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(mtime + 5000))
          fresh ++ rows.map(r => (r.getString(3), r.getLong(2)))
        case op => apiWrite(op, when())
      }
      val kinds = Seq("put", "update", "delete", "joinGroup", "leaveGroup", "late",
        "add", "remove", "rewrite")
      val plan = "add" +: (rng.shuffle(kinds) ++ Seq.fill(3)(pick(kinds)))
      assertReadsReplay(wapi, dir, Nil, "base log")
      plan.zipWithIndex.foreach { case (kind, i) =>
        val touched = run(kind)
        assertReadsReplay(wapi, dir, touched, s"seed $seed step $i ($kind)")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("fetchCas equals the sequential fold on edge-case histories") {
    val dir = writableChangelog("graft_cas")
    val ns = "click"
    val nan = Double.NaN
    val (inf, ninf) = (Double.PositiveInfinity, Double.NegativeInfinity)
    // one fresh key per history; payloads in log order (None = null);
    // the A16 digit of each payload is in the comment
    val histories: Seq[(String, Seq[Option[Double]])] = Seq(
      "NaN deletes" -> Seq(Some(5.01), Some(6.04), Some(nan)),     // 1 4 NaN→0
      "put after NaN" -> Seq(Some(nan), Some(2.02)),               // 0 2
      "+Inf is an update" -> Seq(Some(1.01), Some(inf)),           // 1 7
      "+Inf alone is ignored" -> Seq(Some(inf)),                   // 7
      "-Inf is a put" -> Seq(Some(ninf)),                          // -8
      "update over -Inf" -> Seq(Some(ninf), Some(3.05)),           // -8 5
      "negative half-cent" -> Seq(Some(4.01), Some(-0.005)),       // 1 -1
      "negative half-cents" -> Seq(Some(-0.015), Some(-0.125)),    // -2 -3
      "x.xx5 rounds up to update" -> Seq(Some(1.01), Some(0.035)), // 1 4
      "x.xx5 rounds up to delete" -> Seq(Some(1.01), Some(0.095)), // 1 0
      "x.xx5 rounds up to put" -> Seq(Some(0.025)),                // 3
      "x.xx5 below the cent" -> Seq(Some(2.01), Some(1.005)),      // 1 0
      "null payload skipped" -> Seq(Some(3.01), None),             // 1 null
      "null payload only" -> Seq(None),
      "update before any put" -> Seq(Some(5.04)),                  // 4
      "update then put" -> Seq(Some(5.04), Some(6.01)),            // 4 1
      "delete then update" -> Seq(Some(1.01), Some(0.0), Some(2.04)),
      "put after delete" -> Seq(Some(1.01), Some(0.0), Some(7.02), Some(7.05)))
    val base = 990100L
    val (endUs, endId) = logEndOf(dir)
    val rows = histories.zipWithIndex.flatMap { case ((_, vs), i) =>
      vs.zipWithIndex.map { case (v, j) =>
        // two events of a key share a timestamp: event_id breaks the tie
        val us = endUs + 1000000L * (j / 2 + 1)
        Row(endId + 100 * i + j + 1, us, base + i, ns, v.orNull)
      }
    }
    rawEvents(dir, rows).coalesce(1).write.mode("append")
      .parquet(s"$dir/events.parquet")
    val wapi = new CoordinationApi(spark, dir)
    val keys = histories.indices.map(i => histories(i)._1 -> (base + i)) :+
      ("never written" -> (base + histories.size))
    val got = keys.map { case (name, k) =>
      val want = foldCas(dir, ns, k)
      val have = wapi.fetchCas(ns, k)
      // NaN is never a returned value (it deletes), so == is exact here
      assert(have == want, s"$name (key $k): fetchCas $have, fold $want")
      name -> have
    }.toMap
    // the histories exercise both outcomes and the non-finite values
    assert(got("-Inf is a put").contains(ninf) && got("+Inf is an update").contains(inf))
    assert(got("negative half-cent").contains(-0.005))
    assert(got("NaN deletes").isEmpty && got("put after delete").contains(7.05))
    // the distributed replay and the stream twin classify the same
    // non-finite payloads without an ANSI cast error
    val snap = wapi.snapshotCas(ns).collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Double]("value")).toMap
    keys.foreach { case (name, k) =>
      assert(snap.get(k) == got(name), s"$name (key $k): snapshotCas ${snap.get(k)}")
    }
    def feed(q: String) = SparkEntry.queries(q)(spark, dir).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq
    val batchFeed = feed("kv_storage_feed")
    assert(batchFeed.exists(_.contains("Infinity")))
    assert(feed("stream_storage_feed") == batchFeed)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("resign-aware leader and leave-aware membership honor tombstones") {
    val resign = SparkEntry.queries("leader_election_resign")(spark, sf)
      .collect().map(r => r.getAs[String]("resource") ->
        (r.getAs[Long]("leader"),
          Option(r.get(r.fieldIndex("sup_data"))).map(_.asInstanceOf[Double])))
      .toMap
    resign.foreach { case (res, pair) =>
      assert(api.getLeaderResignAware(res).contains(pair))
    }
    // leave-aware membership is a subset of plain TTL membership
    val plain = SparkEntry.queries("group_membership")(spark, sf)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("member"))).toSet
    val leave = SparkEntry.queries("group_membership_leave")(spark, sf)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("member"))).toSet
    assert(leave.subsetOf(plain))
    assert(leave.size < plain.size) // the convention produces real leaves
    leave.headOption.foreach { case (g, _) =>
      assert(api.membershipListLeaveAware(g).count() ==
        leave.count(_._1 == g))
    }
  }

  test("valueChanges matches the feed for one namespace") {
    val viaApi = api.valueChanges("error").count()
    val viaQuery = SparkEntry.queries("value_change_feed")(spark, sf)
      .filter(col("namespace") === "error").count()
    assert(viaApi == viaQuery)
  }

  test("listener registry: attach fires the feed in order, detach goes quiet") {
    import graft.api.{KeySetChangeListener, ListenerRegistry, ValueChangeListener}
    val reg = new ListenerRegistry(api)
    val ns = "click"
    val feed = api.valueChanges(ns)
      .orderBy(col("ts"), col("event_id")).collect()
    // the busiest key gives the ordering check teeth
    val key = feed.groupBy(_.getAs[Long]("key")).maxBy(_._2.length)._1
    val expected = feed.filter(_.getAs[Long]("key") == key)
      .map(_.getAs[Double]("value")).toSeq
    assert(expected.size >= 2)

    val got = scala.collection.mutable.Buffer.empty[Option[Double]]
    val got2 = scala.collection.mutable.Buffer.empty[Option[Double]]
    val l1 = new ValueChangeListener {
      def valueChanged(v: Option[Double]): Unit = got += v }
    val l2 = new ValueChangeListener {
      def valueChanged(v: Option[Double]): Unit = got2 += v }

    assert(!reg.hasValueWatcher(ns, key))
    reg.addValueChangeListener(ns, key, l1)
    assert(reg.hasValueWatcher(ns, key))          // first add attaches
    reg.addValueChangeListener(ns, key, l2)       // second piggybacks
    reg.replayValueChanges(ns)
    assert(got.flatten.toSeq == expected, "feed order/content diverged")
    assert(got2.flatten.toSeq == expected, "second listener missed rows")

    reg.removeValueChangeListener(ns, key, l2)
    assert(reg.hasValueWatcher(ns, key))          // one listener left
    reg.removeValueChangeListener(ns, key, l1)
    assert(!reg.hasValueWatcher(ns, key))         // last remove detaches
    got.clear()
    assert(reg.replayValueChanges(ns) == 0L && got.isEmpty)

    // keyset watcher: one firing per A5 feed row for the namespace
    val ksGot = scala.collection.mutable.Buffer.empty[Set[String]]
    val kl = new KeySetChangeListener {
      def keySetChanged(ks: Set[String]): Unit = ksGot += ks }
    assert(reg.replayKeySetChanges(ns) == 0L)     // nothing attached yet
    reg.addKeySetChangeListener(ns, kl)
    assert(reg.hasKeySetWatcher(ns))
    val fired = reg.replayKeySetChanges(ns)
    assert(fired == api.keySetChanges(ns).count(),
      "compare-and-fire count diverges from the A5 feed")
    assert(ksGot.size == fired)
    reg.removeKeySetChangeListener(ns, kl)
    assert(!reg.hasKeySetWatcher(ns))
  }

  test("leader-change listeners: attach replays the A23 feed, detach goes quiet") {
    import graft.api.{LeaderChangeListener, ListenerRegistry}
    val reg = new ListenerRegistry(api)
    val res = "click"
    val feed = api.leaderChanges(res)
      .orderBy(col("ts"), col("event_id")).collect()
      .map(_.getAs[Long]("new_leader")).toSeq
    assert(feed.size >= 2, "need a resource with real leadership churn")

    val got = scala.collection.mutable.Buffer.empty[Option[Long]]
    val got2 = scala.collection.mutable.Buffer.empty[Option[Long]]
    val l1 = new LeaderChangeListener {
      def onLeaderChange(v: Option[Long]): Unit = got += v }
    val l2 = new LeaderChangeListener {
      def onLeaderChange(v: Option[Long]): Unit = got2 += v }

    assert(reg.replayLeaderChanges(res) == 0L)    // nothing attached yet
    reg.addLeaderChangeListener(res, l1)
    assert(reg.hasLeaderWatcher(res))             // first add attaches
    reg.addLeaderChangeListener(res, l2)          // second piggybacks
    val fired = reg.replayLeaderChanges(res)
    assert(fired == feed.size, "firing count diverges from the A23 feed")
    assert(got.flatten.toSeq == feed, "feed order/content diverged")
    assert(got2.flatten.toSeq == feed, "second listener missed rows")

    reg.removeLeaderChangeListener(res, l2)
    assert(reg.hasLeaderWatcher(res))             // one listener left
    reg.removeLeaderChangeListener(res, l1)
    assert(!reg.hasLeaderWatcher(res))            // last remove detaches
    got.clear()
    assert(reg.replayLeaderChanges(res) == 0L && got.isEmpty)
  }

  test("group-membership listeners: per-tick snapshots fire on change only") {
    import graft.api.{GroupMembershipListener, ListenerRegistry}
    val reg = new ListenerRegistry(api)
    val grp = "signup"
    val got = scala.collection.mutable.Buffer.empty[Set[Long]]
    val gl = new GroupMembershipListener {
      def onGroupChange(m: Set[Long]): Unit = got += m }

    assert(reg.replayGroupChanges(grp) == 0L)     // nothing attached yet
    reg.addGroupMembershipListener(grp, gl)
    assert(reg.hasGroupWatcher(grp))
    val fired = reg.replayGroupChanges(grp)
    // same compare-and-fire dedup as the key-set watcher, typed —
    // firing count must equal the string-keyed replay's
    assert(fired == api.keySetChanges(grp).count(),
      "membership firing count diverges from the A5 feed")
    assert(got.size == fired)
    // every fired snapshot is the tick's member set: ids round-trip
    // through the typed interface (join/leave = set delta between ticks)
    assert(got.sliding(2).forall {
      case scala.collection.mutable.Buffer(a, b) => a != b
      case _ => true
    }, "consecutive identical snapshots should have been deduped")
    reg.removeGroupMembershipListener(grp, gl)
    assert(!reg.hasGroupWatcher(grp))
    got.clear()
    assert(reg.replayGroupChanges(grp) == 0L && got.isEmpty)
  }

  test("plugin locator: getters throw before startup, serve after (reference lifecycle)") {
    import graft.api.GraftPluginLocator
    val loc = new GraftPluginLocator(spark)
    val e1 = intercept[IllegalStateException](loc.getLeaderElection)
    assert(e1.getMessage.contains("startup(configFile)"))
    intercept[IllegalStateException](loc.getListenerRegistry)
    // config-file path, the reference signature
    val f = java.nio.file.Files.createTempFile("graft_plugin", ".properties")
    java.nio.file.Files.writeString(f, s"graft.data.dir=$sf\n")
    loc.startup(f.toString)
    // the served instance answers identically to a directly-built API
    assert(loc.getLeaderElection.getLeader("signup") == api.getLeader("signup"))
    assert(loc.getListenerRegistry != null)
    // a config without the dir key is rejected
    val bad = java.nio.file.Files.createTempFile("graft_plugin_bad", ".properties")
    java.nio.file.Files.writeString(bad, "unrelated=1\n")
    val e2 = intercept[IllegalArgumentException](
      new GraftPluginLocator(spark).startup(bad.toString))
    assert(e2.getMessage.contains("graft.data.dir"))
    // reference Config(file, overrides) signature: overrides replace
    // the file's values key-by-key — here the override SUPPLIES the
    // dir the file lacks, and a TTL override beats the file's value
    java.nio.file.Files.writeString(bad,
      "unrelated=1\ngraft.le.ttl.ms=1000\n")
    val loc3 = new GraftPluginLocator(spark)
    loc3.startup(bad.toString,
      Map("graft.data.dir" -> sf, "graft.le.ttl.ms" -> "7200000"))
    assert(loc3.getLeaderElection.ttl == 7200L * 1000000L,
      "override did not beat the file value")
    java.nio.file.Files.deleteIfExists(f)
    java.nio.file.Files.deleteIfExists(bad)
  }

  test("configured TTL threads through locator, API, and replay queries") {
    import graft.api.GraftPluginLocator
    val ttl30mUs = 1800L * 1000000L
    // locator: graft.le.ttl.ms / graft.lr.pull.period.ms are honored
    val f = java.nio.file.Files.createTempFile("graft_ttl", ".properties")
    java.nio.file.Files.writeString(f,
      s"graft.data.dir=$sf\ngraft.le.ttl.ms=1800000\n" +
        "graft.lr.pull.period.ms=43200000\n")
    val loc = new GraftPluginLocator(spark)
    loc.startup(f.toString)
    val api30 = loc.getLeaderElection
    assert(api30.ttl == ttl30mUs)
    assert(api30.pullPeriod == 43200000L * 1000L)
    // membership at TTL=30m == an independent driver-side replay:
    // latest record per (grp, member), alive iff within 30m of log end
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id")).collect()
    val logEnd = ev.map(_.getLong(2)).max
    val expected = ev.groupBy(r => (r.getString(0), r.getLong(1)))
      .view.mapValues(_.maxBy(r => (r.getLong(2), r.getLong(3))).getLong(2))
      .filter { case (_, us) => us >= logEnd - ttl30mUs }
      .keys.toSet
    val got = graft.queries.Coordination.groupMembershipTtl(ttl30mUs)
      .fn(spark, sf).collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("member"))).toSet
    assert(got == expected)
    // the API view is built from the same parameterized query
    expected.groupBy(_._1).foreach { case (g, ms) =>
      val apiMembers = api30.membershipList(g).collect()
        .map(_.getAs[Long]("member")).toSet
      assert(apiMembers == ms.map(_._2))
    }
    // the knob is live: 30m membership must be a subset of the 1h one
    val got1h = SparkEntry.queries("group_membership")(spark, sf).collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("member"))).toSet
    assert(got.subsetOf(got1h))
    java.nio.file.Files.deleteIfExists(f)
  }

  test("period-floored keyset ticks at one day equal date_trunc('day')") {
    val day = graft.queries.Coordination.DefaultPullPeriodMicros
    val a = graft.queries.Coordination
      .keysetChangeFeedPeriod(day).fn(spark, sf).collect()
      .map(_.toSeq).toSet
    val b = SparkEntry.queries("keyset_change_feed")(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(a == b)
    // a shorter period observes at least as many change ticks
    val hourly = graft.queries.Coordination
      .keysetChangeFeedPeriod(3600L * 1000000L).fn(spark, sf).count()
    assert(hourly >= a.size)
  }

  test("append write path: mutations round-trip through the replay queries") {
    // stage a writable deployment: changelog as a parquet DIRECTORY
    val dir = writableChangelog("graft_append")
    val wapi = new CoordinationApi(spark, dir)
    val logEnd = Tables.events(spark, dir)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val after = new java.sql.Timestamp(logEnd.getTime + 1000)
    // Storage.put on a fresh key → visible to fetch and kv_snapshot
    val k = 990001L
    assert(wapi.fetch("click", k).isEmpty)
    val id1 = wapi.append("click", k, "put", 7.01, after)
    assert(wapi.fetch("click", k).contains(7.01))
    val snap = graft.queries.Coordination.kvSnapshot.fn(spark, dir)
      .filter(col("namespace") === "click" && col("key") === k).collect()
    assert(snap.length == 1 && snap(0).getAs[Double]("value") == 7.01)
    // update applies over the put (digit forced to 4 → 8.04)
    val id2 = wapi.append("click", k, "update", 8.04, new java.sql.Timestamp(after.getTime + 1000))
    assert(id2 == id1 + 1)
    assert(wapi.fetchCas("click", k).contains(8.04))
    // delete tombstones it under CAS replay
    wapi.append("click", k, "delete", 0.0, new java.sql.Timestamp(after.getTime + 2000))
    assert(wapi.fetchCas("click", k).isEmpty)
    // join/leave drive group_membership (leave-aware)
    val m = 990002L
    wapi.joinGroup("signup", m, 1.01, new java.sql.Timestamp(after.getTime + 3000))
    assert(wapi.membershipListLeaveAware("signup").collect()
      .exists(_.getAs[Long]("member") == m))
    wapi.leaveGroup("signup", m, new java.sql.Timestamp(after.getTime + 4000))
    assert(!wapi.membershipListLeaveAware("signup").collect()
      .exists(_.getAs[Long]("member") == m))
    // op validation and the read-only guard
    intercept[IllegalArgumentException](
      wapi.append("click", k, "upsert", 1.0, after))
    intercept[IllegalArgumentException](
      wapi.append("click", k, "update", -1.0, after))
    intercept[IllegalStateException](
      api.append("click", k, "put", 1.01, after)) // sf testdata: read-only file
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("group-event replay: transition fold ends at the leave-aware live set") {
    import graft.api.{GroupMembershipListener, ListenerRegistry}
    val reg = new ListenerRegistry(api)
    val grp = "signup"
    var last = Option.empty[Set[Long]]
    var fired = 0L
    val gl = new GroupMembershipListener {
      def onGroupChange(m: Set[Long]): Unit = { last = Some(m); fired += 1 } }

    assert(reg.replayGroupEvents(grp) == 0L)      // nothing attached yet
    reg.addGroupMembershipListener(grp, gl)
    val delivered = reg.replayGroupEvents(grp)
    assert(delivered == api.groupChanges(grp).count() && fired == delivered)
    // the fold's END STATE must equal the leave-aware membership list at
    // log end — the feed and the snapshot queries describe one world
    val live = SparkEntry.queries("group_membership_leave")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("grp") === grp)
      .collect().map(_.getAs[Long]("member")).toSet
    assert(last.contains(live),
      s"replayed end state ${last.map(_.size)} != live membership ${live.size}")
    reg.removeGroupMembershipListener(grp, gl)
    assert(reg.replayGroupEvents(grp) == 0L)
  }

  test("storage-mutation listeners: applied ops replay in order, detach goes quiet") {
    import graft.api.{ListenerRegistry, StorageMutationListener}
    val reg = new ListenerRegistry(api)
    val ns = "click"
    // pick the key with the most applied mutations so put/update (and
    // likely delete) are all exercised
    val byKey = api.storageMutations(ns).collect()
      .groupBy(_.getAs[Long]("key"))
    val (key, feedRows) = byKey.maxBy(_._2.length)
    val feed = feedRows.sortBy(r =>
      (r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[Long]("event_id")))
      .map(r => (r.getAs[String]("op"),
        if (r.isNullAt(r.fieldIndex("new_value"))) None
        else Some(r.getAs[Double]("new_value")))).toSeq
    assert(feed.size >= 2, "need a key with real mutation churn")
    assert(feed.map(_._1).toSet.subsetOf(Set("put", "update", "delete")))
    // deletes carry None, writes carry Some
    feed.foreach { case (op, v) => assert((op == "delete") == v.isEmpty) }

    val got = scala.collection.mutable.Buffer.empty[(String, Option[Double])]
    val l = new StorageMutationListener {
      def onMutation(op: String, v: Option[Double]): Unit = got += ((op, v)) }

    assert(reg.replayStorageMutations(ns) == 0L)  // nothing attached yet
    reg.addStorageMutationListener(ns, key, l)
    assert(reg.hasMutationWatcher(ns, key))       // first add attaches
    reg.replayStorageMutations(ns)
    assert(got.toSeq == feed, "feed order/content diverged")

    reg.removeStorageMutationListener(ns, key, l)
    assert(!reg.hasMutationWatcher(ns, key))      // last remove detaches
    got.clear()
    assert(reg.replayStorageMutations(ns) == 0L && got.isEmpty)
  }
}
