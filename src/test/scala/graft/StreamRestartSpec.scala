package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint kill-and-restart recovery — the one streaming contract a
  * real user hits on day two. Every stream here runs with
  * `checkpointLocation` and argues restart safety ("mergeable ⇒
  * restart-safe", "newest batch_seq wins"); these specs EXECUTE that
  * argument across a process-level restart boundary, one per state
  * class:
  *
  *   - FMGWS keyed fold      (A25 presence state)
  *   - sketch aggregate      (A33 Misra–Gries complete-mode state)
  *   - keyed MERGE sink      (A52-shape counts through runKeyedUpsert)
  *
  * Harness: a session with [[graft.streaming.Streaming.RestartRootConf]]
  * set drives every streaming query from a FIXED checkpoint root. Each
  * spec drains the files available now, stops, adds more source files,
  * and invokes the SAME operator again — the second invocation rebuilds
  * the plan from code (what a restarted JVM does) and must resume from
  * the checkpoint: committed batches are not re-read (no duplicate
  * output) and the state store / keyed table restores (output that
  * depends on pre-restart state is correct). The asserted equality is
  * the same one the multi-batch specs pin, now across the restart.
  */
class StreamRestartSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Write each chunk as hold/batch_i.parquet (mtime-ordered); expose
    * none yet. Returns (srcDir, holdDir).
    */
  private def stagedChunks(
      chunks: Seq[org.apache.spark.sql.DataFrame]): (String, String) = {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_restart_src").toString
    val holdDir = java.nio.file.Files
      .createTempDirectory("graft_restart_hold").toString
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.coalesce(1).write.mode("overwrite").parquet(s"$holdDir/f$i")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$holdDir/f$i"))
        .filter(_.toString.endsWith(".parquet")).forEach { f =>
          java.nio.file.Files.move(f,
            java.nio.file.Paths.get(s"$holdDir/batch_$i.parquet"))
        }
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$holdDir/f$i"))
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(s"$holdDir/batch_$i.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(
          1600000000000L + i * 1000L))
    }
    (srcDir, holdDir)
  }

  private def expose(srcDir: String, holdDir: String, i: Int): Unit =
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$holdDir/batch_$i.parquet"),
      java.nio.file.Paths.get(s"$srcDir/batch_$i.parquet"))

  private def restartSession(root: String): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set(graft.streaming.Streaming.RestartRootConf, root)
    s
  }

  private def cleanup(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

  test("FMGWS fold (A25 presence state) resumes from the checkpoint: " +
      "no re-emission, post-restart ops see pre-restart presence, " +
      "union equals the batch oracle") {
    // 4 time-ordered chunks of the real event log, one per trigger;
    // restart between chunks 2 and 3
    val all = Tables.events(spark, sf)
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("ts"), col("event_id"), col("value"))
    val chunks = ntileChunks(all, 4, Seq(col("ts"), col("event_id")))
    val (srcDir, holdDir) = stagedChunks(chunks)
    val root = java.nio.file.Files
      .createTempDirectory("graft_restart_ckpt").toString
    try {
      val s = restartSession(root)
      val schema = spark.read.parquet(s"$holdDir/batch_0.parquet").schema
      def run() = {
        import s.implicits._
        graft.streaming.Streaming.runStorageFeed(s,
          s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(srcDir).as[graft.streaming.KeyedEvent])
          .collect()
          .map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key"),
            r.getAs[Long]("event_id"), r.getAs[String]("op"))).toSet
      }
      expose(srcDir, holdDir, 0); expose(srcDir, holdDir, 1)
      val first = run()                       // incarnation 1: chunks 0-1
      expose(srcDir, holdDir, 2); expose(srcDir, holdDir, 3)
      val second = run()                      // incarnation 2: resumes
      // exactly-once across the restart: committed batches don't replay
      assert(first.nonEmpty && second.nonEmpty)
      assert((first & second).isEmpty,
        s"restart re-emitted committed rows: ${(first & second).take(5)}")
      // the union is the batch oracle — bit-for-bit the multi-batch
      // equality, now across the restart boundary
      val batch = SparkEntry.queries("kv_storage_feed")(spark, sf)
        .collect()
        .map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key"),
          r.getAs[Long]("event_id"), r.getAs[String]("op"))).toSet
      assert((first | second) === batch,
        "resumed union diverges from the batch oracle")
      // the restart actually exercised state carry: some key's presence
      // was established pre-restart and consumed post-restart (an
      // applied update/delete needs present=true from the state store)
      val presentBefore = first.collect { case (ns, k, _, "put") => (ns, k) }
      val dependent = second.collect {
        case (ns, k, _, op) if op != "put" && presentBefore((ns, k)) => (ns, k)
      }
      assert(dependent.nonEmpty,
        "no post-restart op consumed pre-restart presence state — " +
          "the spec isn't witnessing the state restore")
    } finally cleanup(srcDir, holdDir, root)
  }

  test("sketch aggregate (A33 Misra-Gries) resumes from the checkpoint: " +
      "post-restart n_total covers pre-restart rows, MG bounds hold") {
    import spark.implicits._
    // 4 planted chunks of 1000 rows, 40% hot key; restart after 2
    val rng = new scala.util.Random(16)
    val chunks = (1 to 4).map { _ =>
      val hot = Seq.fill(400)("hot")
      val cold = (0 until 600).map(_ => s"cold${rng.nextInt(400)}")
      rng.shuffle(hot ++ cold).toDF("event_type")
    }
    val (srcDir, holdDir) = stagedChunks(chunks)
    val root = java.nio.file.Files
      .createTempDirectory("graft_restart_ckpt").toString
    try {
      val s = restartSession(root)
      val schema = spark.read.parquet(s"$holdDir/batch_0.parquet").schema
      def run() = graft.streaming.Streaming.runHeavyHitters(s,
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(srcDir), k = 8).collect()
      expose(srcDir, holdDir, 0); expose(srcDir, holdDir, 1)
      val first = run()
      assert(first.forall(_.getAs[Long]("n_total") == 2000L),
        "pre-restart sketch lost rows within its own run")
      expose(srcDir, holdDir, 2); expose(srcDir, holdDir, 3)
      val second = run()
      val byItem = second.map(r =>
        r.getAs[String]("event_type") -> r.getAs[Long]("est_count")).toMap
      // THE restart witness: all 4000 rows reached one sketch. A
      // sketch whose state died with the first incarnation reports
      // 2000 here.
      assert(second.forall(_.getAs[Long]("n_total") == 4000L),
        s"restarted sketch dropped pre-restart rows: ${second.toSeq}")
      // MG contract over the GLOBAL count (true hot count = 1600)
      assert(byItem.contains("hot"), s"hot key lost across restart: $byItem")
      assert(byItem("hot") <= 1600L && 1600L - byItem("hot") <= 4000L / 8,
        s"MG bound violated across restart: est=${byItem("hot")}")
      assert(second.forall(_.getAs[Long]("est_count") > 4000L / 8),
        "emission rule violated after restart")
    } finally cleanup(srcDir, holdDir, root)
  }

  test("watermark-closed window agg (A37b sliding rollup) resumes from " +
      "the checkpoint: closed windows emit exactly once across the " +
      "restart and the union equals the closed-window oracle") {
    // 4 time-ordered chunks; restart between 2 and 3. Sliding 3h/1h
    // windows STRADDLE the restart boundary — their counts are only
    // right if the window state (and the watermark) restore.
    val all = Tables.events(spark, sf)
    val chunks = ntileChunks(all, 4, Seq(col("ts"), col("event_id")))
    val (srcDir, holdDir) = stagedChunks(chunks)
    val root = java.nio.file.Files
      .createTempDirectory("graft_restart_ckpt").toString
    try {
      val s = restartSession(root)
      val schema = spark.read.parquet(s"$holdDir/batch_0.parquet").schema
      def run() = graft.streaming.Streaming.runSlidingRollupAppend(s,
        Tables.withMicroTs(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)))
        .collect()
        .map(r => (r.getAs[java.sql.Timestamp]("win_start"),
          r.getAs[String]("event_type")) ->
          ((r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))).toMap
      expose(srcDir, holdDir, 0); expose(srcDir, holdDir, 1)
      val first = run()
      expose(srcDir, holdDir, 2); expose(srcDir, holdDir, 3)
      val second = run()
      // exactly-once: a window flushed pre-restart never re-emits
      assert(first.nonEmpty && second.nonEmpty)
      assert(first.keySet.intersect(second.keySet).isEmpty,
        s"restart re-emitted closed windows: ${
          first.keySet.intersect(second.keySet).take(3)}")
      // the union is the registered A37b output — itself DuckDB-oracled
      // as the batch sliding rollup restricted to closed windows
      val batch = SparkEntry.queries(
          "stream_sliding_rollup_append")(spark, sf).collect()
        .map(r => (r.getAs[java.sql.Timestamp]("win_start"),
          r.getAs[String]("event_type")) ->
          ((r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))).toMap
      assert(first ++ second == batch,
        "resumed closed-window union diverges from the batch oracle")
      // the restart exercised window-state carry: some window emitted
      // post-restart OPENED pre-restart (its 3 h span covers events
      // from both sides of the boundary) — its count is only right if
      // the restored state held the pre-restart partial aggregate
      val boundary = spark.read.parquet(s"$srcDir/batch_1.parquet")
        .agg(max(unix_micros(col("ts")))).head.getLong(0)
      val straddling = second.keys.filter { case (ws, _) =>
        val us = ws.getTime * 1000L
        us <= boundary && boundary < us + 3L * 3600 * 1000000
      }
      assert(straddling.nonEmpty,
        "no post-restart window straddles the restart boundary — " +
          "the spec isn't witnessing the window-state restore")
    } finally cleanup(srcDir, holdDir, root)
  }

  test("index maintenance (A60 IVF list upsert) resumes from the " +
      "checkpoint: the delta state persists (and stays DELTA-sized — " +
      "no corpus copy), committed appends don't replay, and the final " +
      "probe over the published generation equals batch knn_ivf") {
    // the deployment scenario: the nightly append job dies mid-stream
    // and is restarted. Arrivals split into 4 chunks; restart between
    // 2 and 3. On resume the kept delta table is the state (the base
    // index is opened in place, never copied), offsets skip chunks
    // 0-1, and the published maintained view must still converge to
    // the full corpus.
    import org.apache.spark.sql.functions._
    val Sim = graft.queries.Similarity
    val arriving = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(pmod(col("vec_id"), lit(5)) === 0)
    val chunks = ntileChunks(arriving, 4, Seq(col("vec_id")))
    val (srcDir, holdDir) = stagedChunks(chunks)
    val root = java.nio.file.Files
      .createTempDirectory("graft_restart_ckpt").toString
    try {
      val s = restartSession(root)
      val schema = spark.read.parquet(s"$holdDir/batch_0.parquet").schema
      val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def run() = graft.streaming.Streaming.runAnnIndexUpsert(s,
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(srcDir), sf,
        onBatch = (id, n) => perBatch.synchronized { perBatch += ((id, n)) })
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
          ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
      expose(srcDir, holdDir, 0); expose(srcDir, holdDir, 1)
      run()                                  // incarnation 1: half the appends
      perBatch.synchronized(perBatch.clear())
      expose(srcDir, holdDir, 2); expose(srcDir, holdDir, 3)
      val resumed = run()                    // incarnation 2: resumes
      // committed appends never replay: post-restart triggers carry
      // only chunks 2-3's rows, numbered past the pre-restart batches
      val emitted = perBatch.synchronized(perBatch.sortBy(_._1))
        .filter(_._2 > 0)
      val tail = chunks.drop(2).map(_.count()).sum
      assert(emitted.map(_._2).sum == tail,
        s"post-restart triggers re-delivered committed appends: $emitted " +
          s"(expected rows summing to $tail)")
      assert(emitted.forall(_._1 >= 2L),
        s"batch ids restarted from zero: $emitted")
      // the resumed merged index converges to the full corpus: probe
      // equals batch knn_ivf — which needs BOTH the pre-restart appends
      // (persisted table, not re-seeded over) and the post-restart ones
      val batch = SparkEntry.queries("knn_ivf")(spark, sf).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
          ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
      assert(resumed == batch,
        "resumed maintenance did not converge to the full-build index")
      // the kept state is the DELTA, not the index: exactly the
      // arriving cohort's rows — the r16 design re-copied the
      // corpus-sized base into the state dir every session
      val stateRows = spark.read.parquet(s"$root/kupsert/state").count()
      val cohort = arriving.count()
      assert(stateRows === cohort,
        s"state dir holds $stateRows rows, expected the $cohort-row " +
          "delta — the base index leaked into the MERGE state")
    } finally cleanup(srcDir, holdDir, root)
  }

  test("stream-stream interval join (A29) resumes from the checkpoint: " +
      "buffered click state survives the restart, no duplicate matches, " +
      "union equals the hand-computed band join") {
    import spark.implicits._
    // Planted chunks (the real log's per-user arrivals are too sparse
    // to guarantee a cross-boundary match): click c1 buffered in
    // incarnation 1 must pair with purchase p2 arriving AFTER the
    // restart — that match exists only if the two-sided join buffer
    // restores from the checkpoint.
    def ev(rows: (String, Long, Long, String)*) = rows.toSeq
      .toDF("event_type", "user_id", "event_id", "t")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val chunks = Seq(
      ev(("click", 1L, 101L, "2024-01-01 10:00:00")),
      ev(("click", 1L, 102L, "2024-01-01 10:30:00"),
        ("purchase", 1L, 201L, "2024-01-01 10:20:00")),
      // -- restart --
      ev(("purchase", 1L, 202L, "2024-01-01 10:50:00")),
      ev(("purchase", 1L, 203L, "2024-01-01 12:00:00")))
    val (srcDir, holdDir) = stagedChunks(chunks)
    val root = java.nio.file.Files
      .createTempDirectory("graft_restart_ckpt").toString
    try {
      val s = restartSession(root)
      val schema = chunks.head.schema
      def src() = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      def run() = graft.streaming.Streaming.runIntervalJoin(s, src(), src())
        .collect()
        .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id")) ->
          r.getAs[Long]("gap_us")).toMap
      expose(srcDir, holdDir, 0); expose(srcDir, holdDir, 1)
      val first = run()                       // incarnation 1: chunks 0-1
      assert(first == Map((101L, 201L) -> 20L * 60 * 1000000),
        s"pre-restart matches diverge: $first")
      expose(srcDir, holdDir, 2); expose(srcDir, holdDir, 3)
      val second = run()                      // incarnation 2: resumes
      // exactly-once AND the buffer restore: (c1=101, p2=202) pairs a
      // PRE-restart click with a POST-restart purchase (gap 50 min),
      // (c2=102, p2=202) is the intra-incarnation match (20 min), and
      // p3 at 12:00 is outside every click's 1h band
      assert(second == Map(
        (101L, 202L) -> 50L * 60 * 1000000,
        (102L, 202L) -> 20L * 60 * 1000000),
        s"post-restart matches diverge (buffered click lost?): $second")
      assert(first.keySet.intersect(second.keySet).isEmpty)
    } finally cleanup(srcDir, holdDir, root)
  }

  test("native session_window (A20) resumes from the checkpoint: a " +
      "session straddling the restart closes with pre-restart start and " +
      "full count, closed sessions never re-emit") {
    import spark.implicits._
    // Planted chunks (real per-user arrivals are sparser than the 30min
    // gap, so natural straddles don't exist): u1's session spans the
    // boundary — its start/count are right only if the session state
    // restores. u4 closes pre-restart (no re-emission); u2 opens before
    // and reopens after; u3 stays open at log end (emitted never).
    def ev(rows: (Long, Long, String)*) = rows.toSeq
      .toDF("user_id", "event_id", "t")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
    val chunks = Seq(
      ev((4L, 1L, "2024-01-01 08:00:00"), (1L, 2L, "2024-01-01 10:00:00"),
        (2L, 3L, "2024-01-01 10:05:00"), (1L, 4L, "2024-01-01 10:10:00")),
      ev((2L, 5L, "2024-01-01 10:20:00"), (1L, 6L, "2024-01-01 10:25:00")),
      // -- restart --
      ev((1L, 7L, "2024-01-01 10:45:00"), (2L, 8L, "2024-01-01 11:30:00")),
      ev((3L, 9L, "2024-01-01 13:00:00")))
    val (srcDir, holdDir) = stagedChunks(chunks)
    val root = java.nio.file.Files
      .createTempDirectory("graft_restart_ckpt").toString
    try {
      val s = restartSession(root)
      val schema = chunks.head.schema
      def run() = graft.streaming.Streaming.runSessionWindows(s,
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(srcDir))
        .collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("session_start").toString) ->
          ((r.getAs[java.sql.Timestamp]("session_end").toString,
            r.getAs[Long]("n_events")))).toMap
      expose(srcDir, holdDir, 0); expose(srcDir, holdDir, 1)
      val first = run()
      // only u4's early singleton is watermark-closed pre-restart
      assert(first == Map((4L, "2024-01-01 08:00:00.0") ->
        (("2024-01-01 08:00:00.0", 1L))),
        s"pre-restart closed sessions diverge: $first")
      expose(srcDir, holdDir, 2); expose(srcDir, holdDir, 3)
      val second = run()
      // THE state witness: u1's session [10:00, 10:45] x4 straddles the
      // restart — start and count exist only in the restored state;
      // u2's pre-restart session closes post-restart with pre-restart
      // bounds; u2's 11:30 singleton closes via the trailing no-data
      // batch; u3's open tail session never emits
      assert(second == Map(
        (1L, "2024-01-01 10:00:00.0") -> (("2024-01-01 10:45:00.0", 4L)),
        (2L, "2024-01-01 10:05:00.0") -> (("2024-01-01 10:20:00.0", 2L)),
        (2L, "2024-01-01 11:30:00.0") -> (("2024-01-01 11:30:00.0", 1L))),
        s"post-restart sessions diverge (session state lost?): $second")
      assert(first.keySet.intersect(second.keySet).isEmpty)
    } finally cleanup(srcDir, holdDir, root)
  }

  test("keyed MERGE sink (A52-shape counts) resumes from the checkpoint: " +
      "agg state and keyed table both survive, final table equals batch " +
      "counts, post-restart IO stays changed-keys-sized") {
    import spark.implicits._
    // chunk 0: keys 1..50; chunk 1: keys 1..5; -- restart --
    // chunk 2: keys 3..8; chunk 3: key 50. A count whose agg state died
    // at the restart reports 1 for key 3 (true: 3); a keyed table that
    // died reports only post-restart keys.
    val chunks = Seq(
      (1L to 50L).map(k => (k, 1.0)).toDF("user_id", "v"),
      (1L to 5L).map(k => (k, 2.0)).toDF("user_id", "v"),
      (3L to 8L).map(k => (k, 3.0)).toDF("user_id", "v"),
      Seq((50L, 4.0)).toDF("user_id", "v"))
    val (srcDir, holdDir) = stagedChunks(chunks)
    val root = java.nio.file.Files
      .createTempDirectory("graft_restart_ckpt").toString
    try {
      val s = restartSession(root)
      val schema = chunks.head.schema
      val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def run() = graft.streaming.Streaming.runKeyedUpsert(s,
          s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(srcDir)
            .groupBy(col("user_id")).agg(count(lit(1)).as("cnt")),
          Seq("user_id"),
          (id, n) => perBatch.synchronized { perBatch += ((id, n)) })
        .collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("cnt")).toMap
      expose(srcDir, holdDir, 0); expose(srcDir, holdDir, 1)
      val first = run()
      val expectFirst =
        ((1L to 5L).map(_ -> 2L) ++ (6L to 50L).map(_ -> 1L)).toMap
      assert(first == expectFirst, s"pre-restart table diverges: $first")
      perBatch.synchronized(perBatch.clear())
      expose(srcDir, holdDir, 2); expose(srcDir, holdDir, 3)
      val second = run()
      // final keyed table == batch counts over ALL chunks — needs both
      // the restored agg state (key 3: 1+1+1) and the persisted keyed
      // table (key 9..49 untouched after restart)
      val expect = ((1L to 2L).map(_ -> 2L) ++ (3L to 5L).map(_ -> 3L) ++
        (6L to 8L).map(_ -> 2L) ++ (9L to 49L).map(_ -> 1L) ++
        Seq(50L -> 2L)).toMap
      assert(second == expect, s"post-restart table diverges: $second")
      // post-restart triggers emit only the keys they touch (6, then
      // 1) and batch ids CONTINUE past the pre-restart ones — the
      // checkpoint, not a fresh query, numbered them
      val emitted = perBatch.synchronized(perBatch.sortBy(_._1))
        .filter(_._2 > 0)
      assert(emitted.map(_._2) == Seq(6L, 1L),
        s"post-restart sink IO not changed-keys-sized: $emitted")
      assert(emitted.forall(_._1 >= 2L),
        s"batch ids restarted from zero — checkpoint not resumed: $emitted")
    } finally cleanup(srcDir, holdDir, root)
  }
}
