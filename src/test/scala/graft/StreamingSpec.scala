package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Shared multi-batch harness: split `df` into `nChunks` files named
    * batch_i.parquet (mtime-ordered, one per trigger with
    * maxFilesPerTrigger=1) ordered by `order`, returning the source
    * dir. Callers build the readStream and clean up the dir.
    */
  private def timeSplitSource(df: org.apache.spark.sql.DataFrame,
      nChunks: Int, order: Seq[org.apache.spark.sql.Column]): String = {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_multibatch").toString
    val chunked = df.withColumn("q", ntile(nChunks).over(
      org.apache.spark.sql.expressions.Window.orderBy(order: _*)))
    (1 to nChunks).foreach { i =>
      chunked.filter(col("q") === i).drop("q").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$srcDir/f$i"))
        .filter(_.toString.endsWith(".parquet")).forEach { f =>
          java.nio.file.Files.move(f,
            java.nio.file.Paths.get(s"$srcDir/batch_$i.parquet"))
        }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$srcDir/f$i"))
      stampMtime(s"$srcDir/batch_$i.parquet", i)
    }
    srcDir
  }

  /** Pin a file's mtime to base + i seconds: batch order must survive
    * filesystems with 1 s mtime granularity, where sleep(20ms) between
    * writes can leave two batches with identical stamps.
    */
  private def stampMtime(path: String, i: Int): Unit =
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(path),
      java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 1000L))

  /** Planted-chunk variant: write each DataFrame as batch_i.parquet
    * (0-based, mtime-ordered) — for tests that construct their
    * micro-batches by hand.
    */
  private def plantedSource(chunks: Seq[org.apache.spark.sql.DataFrame]): String = {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_multibatch").toString
    chunks.zipWithIndex.foreach { case (rows, i) =>
      rows.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/f$i")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$srcDir/f$i"))
        .filter(_.toString.endsWith(".parquet")).forEach { f =>
          java.nio.file.Files.move(f,
            java.nio.file.Paths.get(s"$srcDir/batch_$i.parquet"))
        }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$srcDir/f$i"))
      stampMtime(s"$srcDir/batch_$i.parquet", i)
    }
    srcDir
  }

  test("stream_change_feed equals the batch value_change_feed") {
    val stream = SparkEntry.queries("stream_change_feed")(spark, sf)
      .collect().map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key"),
        r.getAs[Long]("event_id"))).toSet
    val batch = SparkEntry.queries("value_change_feed")(spark, sf)
      .collect().map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key"),
        r.getAs[Long]("event_id"))).toSet
    assert(stream === batch)
  }

  test("stream_leader_election matches a sequential CAS replay") {
    val ttlUs = 3600L * 1000000L
    val events = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(e => (e._3, e._4))
    // sequential replay: one pass over the whole log per resource
    val state = scala.collection.mutable.Map.empty[String, (Long, Long)] // leader, lastHb
    val expected = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    events.foreach { case (res, cand, us, eid) =>
      state.get(res) match {
        case None =>
          expected += ((res, eid, cand, -1L)); state(res) = (cand, us)
        case Some((leader, lastHb)) if us - lastHb > ttlUs =>
          // expired row: even the former owner re-acquires fresh
          expected += ((res, eid, cand, leader)); state(res) = (cand, us)
        case Some((leader, _)) if leader == cand => state(res) = (cand, us)
        case _ => ()
      }
    }
    val got = SparkEntry.queries("stream_leader_election")(spark, sf)
      .collect().map(r => (r.getAs[String]("resource"), r.getAs[Long]("event_id"),
        r.getAs[Long]("new_leader"), r.getAs[Long]("prev_leader"))).toSet
    assert(got === expected.toSet)
  }

  test("stream_etl_upsert state equals batch compaction") {
    val stream = SparkEntry.queries("stream_etl_upsert")(spark, sf)
      .collect().map(r => (r.getAs[String]("topic"), r.getAs[String]("key"),
        r.getAs[Long]("koffset"))).toSet
    val batch = SparkEntry.queries("etl_upsert_compact")(spark, sf)
      .collect().map(r => (r.getAs[String]("topic"), r.getAs[String]("key"),
        r.getAs[Long]("koffset"))).toSet
    assert(stream === batch)
  }

  test("stateful streaming runs unchanged on the RocksDB state store") {
    // the production state-store provider (HDFSBackedStateStore is the
    // local default); same keyed-state semantics, disk-backed — prove
    // the operators run on it, not just claim they would
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // flatMapGroupsWithState-shaped state ...
      val rocks = SparkEntry.queries("stream_dedup_exact")(spark, sf)
        .collect().map(r => (r.getAs[String]("content_hash"),
          r.getAs[Long]("keeper_doc_id"))).toSet
      val batch = SparkEntry.queries("dedup_exact")(spark, sf)
        .collect().map(r => (r.getAs[String]("content_hash"),
          r.getAs[Long]("keeper_doc_id"))).toSet
      assert(rocks === batch)
      // ... and windowed-aggregation state (collect_set buffers) too
      val feedRocks = SparkEntry.queries("stream_keyset_feed")(spark, sf)
        .collect().map(r => (r.getAs[String]("namespace"),
          r.getAs[java.sql.Timestamp]("tick"), r.getAs[String]("digest"))).toSet
      spark.conf.unset(key)
      val feedDefault = SparkEntry.queries("stream_keyset_feed")(spark, sf)
        .collect().map(r => (r.getAs[String]("namespace"),
          r.getAs[java.sql.Timestamp]("tick"), r.getAs[String]("digest"))).toSet
      assert(feedRocks === feedDefault)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("upsert sink merges correctly across MULTIPLE micro-batches") {
    // the single-file harness replay runs one batch and never exercises
    // the read-merge-overwrite branch; split the events into 4 files and
    // force one file per trigger so batch 2+ must read back bucket
    // state, merge, and dynamically overwrite only touched partitions
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_multibatch_src").toString
    Tables.events(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val shaped = graft.queries.Coordination.kafkaShape(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir))
    val got = graft.streaming.Streaming.runEtlUpsert(spark, shaped)
      .collect().map(r => (r.getAs[String]("topic"), r.getAs[String]("key"),
        r.getAs[Long]("koffset"))).toSet
    val batch = SparkEntry.queries("etl_upsert_compact")(spark, sf)
      .collect().map(r => (r.getAs[String]("topic"), r.getAs[String]("key"),
        r.getAs[Long]("koffset"))).toSet
    assert(got === batch)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_storage_feed carries presence state across MULTIPLE micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // time-split the log into 4 ordered files and force one file per
    // trigger: batch 2+ must see presence established (or deleted) by
    // earlier batches, exercising the cross-batch state carry the
    // single-file replay never reaches. Files are written sequentially
    // so the file source's modification-time order equals event-time
    // order (no cross-batch late data to drop).
    val srcDir = timeSplitSource(Tables.events(spark, sf)
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("ts"), col("event_id"), col("value")),
      4, Seq(col("ts"), col("event_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val typed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .as[graft.streaming.KeyedEvent]
    val got = graft.streaming.Streaming.runStorageFeed(spark, typed)
      .collect().map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key"),
        r.getAs[Long]("event_id"), r.getAs[String]("op"))).toSet
    val batch = SparkEntry.queries("kv_storage_feed")(spark, sf)
      .collect().map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key"),
        r.getAs[Long]("event_id"), r.getAs[String]("op"))).toSet
    assert(got === batch)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_dwell carries last-seen state across MULTIPLE micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 4 time-split files, one per trigger: every cross-batch gap (a
    // user whose consecutive events straddle a file boundary) exists
    // ONLY if the per-user last-ts state carries between batches
    val srcDir = timeSplitSource(Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id")),
      4, Seq(col("ts"), col("event_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val typed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .as[graft.streaming.DwellEvent]
    val got = graft.streaming.Streaming.runDwellFeed(spark, typed)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("event_id"), r.getAs[Long]("gap_us"))).toSet
    val batch = SparkEntry.queries("stream_dwell")(spark, sf)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("event_id"), r.getAs[Long]("gap_us"))).toSet
    assert(got === batch)
    // the boundary gaps must be present: at least one per-user pair
    // straddles each of the 3 file boundaries on this corpus
    assert(got.size == batch.size && got.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_group_change_feed carries membership state across MULTIPLE micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // same time-split harness as the storage-feed spec: batch 2+ must
    // see aliveness established by earlier batches (cross-batch lapse
    // detection reads the carried last-heartbeat state), and the final
    // no-data batch must fire the log-end expiries via timeout. The
    // reference output is the SINGLE-file streaming run — bit-identical
    // semantics regardless of batch boundaries is the contract.
    val srcDir = timeSplitSource(Tables.events(spark, sf)
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("ts"), col("event_id"), col("value")),
      4, Seq(col("ts"), col("event_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val typed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .as[graft.streaming.KeyedEvent]
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("grp"), r.getAs[Long]("member"),
        r.getAs[String]("event"), r.getAs[Long]("ts_us"))
    val got = graft.streaming.Streaming.runGroupFeed(spark, typed)
      .collect().map(key).toSet
    val oneBatch = SparkEntry.queries("stream_group_change_feed")(spark, sf)
      .collect().map(key).toSet
    assert(got === oneBatch)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_interval_join matches clicks to purchases across micro-batches") {
    import org.apache.spark.sql.functions._
    // time-split the log; a click in batch 1 must still match a
    // purchase arriving in batch 3+ (the buffered-side state carry) —
    // output must equal the batch range join row-for-row
    val srcDir = timeSplitSource(Tables.events(spark, sf),
      4, Seq(col("ts"), col("event_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "0 seconds")
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "0 seconds")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
    val got = graft.streaming.Streaming.runToMemory(spark, joined,
        org.apache.spark.sql.streaming.OutputMode.Append,
        needsNoDataBatch = false)
      .collect().map(r => (r.getAs[Long]("click_id"),
        r.getAs[Long]("purchase_id"))).toSet
    val batch = SparkEntry.queries("events_range_join")(spark, sf)
      .collect().map(r => (r.getAs[Long]("click_id"),
        r.getAs[Long]("purchase_id"))).toSet
    assert(got === batch)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_storage_feed op digit matches Spark SQL round exactly (ties, negatives)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the fold computes the op digit driver-side; it must agree with the
    // batch twin's round(value*100) on EVERY double, including the
    // negative .5 ties where scala math.round (floor(x+0.5)) differs
    // from BigDecimal HALF_UP (ties away from zero)
    val edge = Seq(-0.125, -0.115, -0.105, 0.105, 0.115, 0.125, // exact .5 ties at *100
      -0.005, 0.005, 0.0, -0.0)
    val rng = new scala.util.Random(42)
    val vals = edge ++ Seq.fill(2000)(rng.nextDouble() * 200 - 100) ++
      Seq.fill(500)((rng.nextInt(20001) - 10000) / 200.0) // dense .005 grid
    val sparkSide = vals.toDF("v")
      .select(col("v"), (round(col("v") * 100).cast("long") % 10).as("op"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    def opDigit(v: Double): Long =
      scala.math.BigDecimal(v * 100)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toLong % 10
    vals.foreach { v =>
      assert(opDigit(v) == sparkSide(v), s"op digit diverges at v=$v")
    }
  }

  test("stream_corpus_ingest dedups across MULTIPLE micro-batches") {
    import spark.implicits._
    // planted corpus: batch 1 establishes content-hash state, batch 2
    // re-arrives the same content under a new doc_id (cross-batch dup),
    // plus a benchmark id (multiple of 20) and a low-quality doc
    // (all-stopword text scores uniq 0.2*0.5 + (1-1)*0.3 + 1*0.2 < 0.65)
    val good = "quick brown foxes jump over seven lazy dogs near riverbank " +
      "while curious owls watch silently from tall ancient oaks"
    val junk = "the the the the a a a and and of"
    val b1 = Seq((1L, good, "en", "srcA", good.length.toLong),
      (40L, "benchmark doc content here entirely unique words", "en", "srcA", 48L),
      (3L, junk, "en", "srcB", junk.length.toLong),
      // degenerate doc: zero tokens -> NULL quality score; the 3VL-safe
      // split must land it in low_quality (the oracle CASE's ELSE), not
      // silently drop it from the output
      (11L, "", "en", "srcB", 0L))
    val b2 = Seq((7L, good, "en", "srcC", good.length.toLong), // cross-batch dup of 1
      (9L, "another perfectly fine document with plenty distinct " +
        "vocabulary spread across many different tokens", "en", "srcB", 99L))
    val srcDir = plantedSource(Seq(b1, b2).map(
      _.toDF("doc_id", "text", "lang", "source", "n_chars")))
    val schema = spark.read.parquet(s"$srcDir/batch_0.parquet").schema
    val got = graft.streaming.Streaming.runCorpusIngest(spark,
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir))
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[String]("disposition")).toMap
    assert(got(40L) == "benchmark")
    assert(got(3L) == "low_quality")
    assert(got(11L) == "low_quality",
      s"NULL quality score must classify as low_quality, not drop: $got")
    assert(Set("train", "val", "test").contains(got(1L)),
      s"first arrival should be admitted: ${got(1L)}")
    // the batch-2 re-arrival hits state established in batch 1
    assert(got(7L) == "exact_dup", s"cross-batch dup missed: ${got(7L)}")
    assert(Set("train", "val", "test").contains(got(9L)))
    assert(got.size == 6)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_ann_probe: drained feed equals batch knn_ivf, and a forced " +
      "4-trigger replay (queries split across micro-batches) is identical") {
    import org.apache.spark.sql.functions._
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
    val batch = keyed(SparkEntry.queries("knn_ivf")(spark, sf).collect())
    // registered single-source form
    val got = keyed(SparkEntry.queries("stream_ann_probe")(spark, sf).collect())
    assert(got == batch, "drained probe feed diverges from batch knn_ivf")
    // forced multi-batch: the 10 query vectors arrive across 4 triggers;
    // each arrival probes the SAME staged index, so batch boundaries
    // must not change any row (stateless per arrival)
    val qdf = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < graft.queries.Similarity.NQueries)
    val srcDir = timeSplitSource(qdf, 4, Seq(col("vec_id")))
    try {
      val multi = keyed(graft.streaming.Streaming.runAnnProbe(spark,
        spark.readStream.schema(qdf.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir), sf).collect())
      assert(multi == batch, "multi-batch probe feed diverges from batch")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(srcDir))
  }

  test("stream_ann_probe IO pruning holds ON THE STREAMING PLAN: every " +
      "trigger's lists scan reads exactly that trigger's probed-list " +
      "partitions (runtime numPartitions metric), and the triggers' " +
      "probed sets reconstruct the independently recomputed union") {
    import org.apache.spark.sql.functions._
    val Sim = graft.queries.Similarity
    val dir = java.nio.file.Files
      .createTempDirectory("graft_annprobe_prune").toString
    val s = spark.newSession(); s.conf.set(FrameCache.IndexDirConf, dir)
    try {
      val qdf = s.read.parquet(s"$sf/embeddings.parquet")
        .filter(col("vec_id") < Sim.NQueries)
      // independent replay of the probe ranking, driver-side: cosine of
      // each query against each trained centroid, (desc, cid asc), top 1
      val cents = Sim.trainedCentroids(s, sf)
      val expectedUnion = qdf.select(col("vec_id"), col("embedding"))
        .collect().flatMap { r =>
          val v = r.getSeq[Float](1).toArray
          val qn = math.sqrt(v.map(x => x.toDouble * x).sum)
          if (qn == 0) None
          else Some(cents.zipWithIndex.map { case (c, i) =>
            val cn = math.sqrt(c.map(x => x.toDouble * x).sum)
            val dot = v.zip(c).map { case (a, b) => a.toDouble * b }.sum
            (dot / (qn * cn), i.toLong)
          }.maxBy { case (cos, cid) => (cos, -cid) }._2)
        }.toSet
      // the partition values that exist in the staged artifact (an
      // empty list writes no directory — the metric counts directories)
      val existing = Sim.ivfLists(s, sf).select(col("cid")).distinct()
        .collect().map(_.getLong(0)).toSet
      val perTrigger = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Set[Long])] // (batchId, partitionsRead, cids)
      val srcDir = timeSplitSource(qdf, 4, Seq(col("vec_id")))
      try {
        val got = graft.streaming.Streaming.runAnnProbe(s,
          s.readStream.schema(qdf.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir), sf,
          nProbe = 1,
          onProbeExec = (bid, qe, cids) => perTrigger.synchronized {
            perTrigger += ((bid, PruneCheck.partitionsRead(qe,
              "sim.ivf.lists"), cids))
          }).collect()
        assert(got.nonEmpty)
        assert(perTrigger.size >= 4, s"expected >= 4 data triggers, " +
          s"saw ${perTrigger.size}")
        val nLists = existing.size
        perTrigger.foreach { case (bid, read, cids) =>
          // the IO claim itself, per trigger: partitions read equals
          // the trigger's probed union (intersected with the lists that
          // exist on disk), and is strictly less than the index
          assert(read === (cids & existing).size,
            s"trigger $bid read $read partitions, pushed ${cids.size} " +
              s"probed lists (${(cids & existing).size} on disk)")
          assert(read < nLists,
            s"trigger $bid read the whole index ($read of $nLists)")
        }
        // the triggers' probed sets are the REAL probe ranking: their
        // union reconstructs the driver-side replay over all queries
        assert(perTrigger.flatMap(_._3).toSet === expectedUnion,
          "union of per-trigger probed sets diverges from the " +
            "independent probe-ranking replay")
        // pruning changed no row: the drained feed equals batch IVF at
        // the same probe count
        def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
            ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
        assert(keyed(got) ===
          keyed(Sim.ivfFrame(spark, sf, nProbe = 1).collect()),
          "pruned streaming probe diverges from batch IVF at nProbe=1")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(srcDir))
    } finally {
      FrameCache.evict(s)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("stream_ann_adc: drained feed equals batch knn_pq, and a forced " +
      "4-trigger replay is identical") {
    import org.apache.spark.sql.functions._
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
    val batch = keyed(SparkEntry.queries("knn_pq")(spark, sf).collect())
    val got = keyed(SparkEntry.queries("stream_ann_adc")(spark, sf).collect())
    assert(got == batch, "drained ADC feed diverges from batch knn_pq")
    // forced multi-batch: each trigger's arrivals run the batch ADC
    // plan against the same staged artifacts — batch boundaries must
    // not change any row (stateless per arrival batch)
    val qdf = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < graft.queries.Similarity.NQueries)
    val srcDir = timeSplitSource(qdf, 4, Seq(col("vec_id")))
    try {
      val multi = keyed(graft.streaming.Streaming.runAnnAdc(spark,
        spark.readStream.schema(qdf.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir), sf).collect())
      assert(multi == batch, "multi-batch ADC feed diverges from batch")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(srcDir))
  }

  test("stream_ann_ivfpq: drained feed equals batch knn_ivfpq, and a " +
      "forced 4-trigger replay is identical") {
    import org.apache.spark.sql.functions._
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
    val batch = keyed(SparkEntry.queries("knn_ivfpq")(spark, sf).collect())
    val got = keyed(SparkEntry.queries("stream_ann_ivfpq")(spark, sf).collect())
    assert(got == batch, "drained IVFADC feed diverges from batch knn_ivfpq")
    // forced multi-batch: each trigger's arrivals run the batch IVFADC
    // plan against the same staged artifacts — batch boundaries must
    // not change any row (stateless per arrival batch)
    val qdf = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < graft.queries.Similarity.NQueries)
    val srcDir = timeSplitSource(qdf, 4, Seq(col("vec_id")))
    try {
      val multi = keyed(graft.streaming.Streaming.runAnnIvfPq(spark,
        spark.readStream.schema(qdf.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir), sf).collect())
      assert(multi == batch, "multi-batch IVFADC feed diverges from batch")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(srcDir))
  }

  test("stream_ann_adc / stream_ann_ivfpq over an empty source answer zero " +
      "rows with the probe columns") {
    val qdf = spark.read.parquet(s"$sf/embeddings.parquet")
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_empty_src").toString
    try Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "stream_ann_adc" -> (graft.streaming.Streaming.runAnnAdc(spark, _, sf)),
        "stream_ann_ivfpq" -> (graft.streaming.Streaming.runAnnIvfPq(spark, _, sf))
      ).foreach { case (name, run) =>
        val got = run(spark.readStream.schema(qdf.schema).parquet(srcDir))
        assert(got.columns.toSeq ==
          Seq("query_id", "rank", "neighbor_id", "cosine"), name)
        assert(got.count() == 0, name)
      }
    finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(srcDir))
  }

  test("a per-batch function that throws stops the query, surfaces its own " +
      "exception, and leaves no scratch checkpoint or conf behind") {
    import spark.implicits._
    val s = spark.newSession() // own query manager: only this drive is active
    val b0 = (1L to 5L).map(k => (k, 1.0)).toDF("user_id", "v")
    val srcDir = plantedSource(Seq(b0))
    val parts = s.conf.get("spark.sql.shuffle.partitions")
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val noDataBefore = s.conf.getOption(noData)
    val boom = new IllegalStateException("per-batch failure")
    var seen: Option[(org.apache.spark.sql.streaming.StreamingQuery, String)] = None
    try {
      val counts = s.readStream.schema(b0.schema).parquet(srcDir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val e = intercept[IllegalStateException](
        graft.streaming.Streaming.runKeyedUpsert(s, counts, Seq("user_id"),
          (_, _) => {
            val q = s.streams.active.head
            seen = Some((q, q.asInstanceOf[
              org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
              .streamingQuery.resolvedCheckpointRoot))
            throw boom
          }))
      assert(e eq boom, s"expected the per-batch exception itself, got $e")
      val (q, ckpt) = seen.getOrElse(fail("the per-batch function never ran"))
      assert(!q.isActive && s.streams.active.isEmpty, "query left running")
      assert(!new java.io.File(new org.apache.hadoop.fs.Path(ckpt).toUri.getPath)
        .exists(), s"scratch checkpoint left behind: $ckpt")
      assert(s.conf.get("spark.sql.shuffle.partitions") == parts)
      assert(s.conf.getOption(noData) == noDataBefore)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(srcDir))
  }

  test("stream_ann_index_upsert: merged lists probe equals batch knn_ivf " +
      "over the full corpus, multi-batch appends MERGE incrementally, " +
      "and a re-embedded vector supersedes its stale row") {
    import org.apache.spark.sql.functions._
    val Sim = graft.queries.Similarity
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
    // frozen codebook ⇒ merged (v1 + appends) lists ≡ full-build lists
    // ⇒ the post-drain probe is row-exact vs batch knn_ivf
    val batch = keyed(SparkEntry.queries("knn_ivf")(spark, sf).collect())
    val got = keyed(
      SparkEntry.queries("stream_ann_index_upsert")(spark, sf).collect())
    assert(got == batch,
      "post-drain probe over the merged index diverges from batch knn_ivf")
    // forced multi-batch appends: 3 triggers of arriving vectors MERGE
    // into the seeded lists; per-trigger sink IO is the arrivals, not
    // the index (the changed-keys contract, index edition)
    val arriving = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(pmod(col("vec_id"), lit(5)) === 0)
    val nArriving = arriving.count()
    val srcDir = timeSplitSource(arriving, 3, Seq(col("vec_id")))
    try {
      val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val multi = keyed(graft.streaming.Streaming.runAnnIndexUpsert(spark,
        spark.readStream.schema(arriving.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir), sf,
        onBatch = (id, n) => perBatch.synchronized { perBatch += ((id, n)) })
        .collect())
      assert(multi == batch, "multi-batch merged probe diverges from batch")
      val emitted = perBatch.synchronized(perBatch.sortBy(_._1))
        .map(_._2).filter(_ > 0)
      assert(emitted.size == 3 && emitted.sum == nArriving,
        s"per-trigger MERGE IO is not the arrival cohort: $emitted " +
          s"(expected 3 triggers summing to $nArriving)")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(srcDir))
    // replacement semantics: seed the v1 index with a STALE row for an
    // arriving vec_id, poisoned to be query 0's exact vector (cosine 1
    // — it would rank #1 for query 0 if the stale row survived). The
    // arriving fresh embedding must supersede it, restoring batch
    // equality.
    val staleId = arriving.filter(col("vec_id") >= Sim.NQueries)
      .agg(min(col("vec_id"))).head.getLong(0)
    val q0 = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 0L).select(col("embedding")).head
      .getSeq[Float](0)
    val v1 = Sim.ivfLists(spark, sf)
      .filter(pmod(col("vec_id"), lit(5)) =!= 0)
      .unionByName(Sim.ivfLists(spark, sf)
        .filter(col("vec_id") === staleId)
        .withColumn("ea", typedlit(q0)))
    val srcDir2 = timeSplitSource(arriving, 2, Seq(col("vec_id")))
    try {
      val healed = keyed(graft.streaming.Streaming.runAnnIndexUpsert(spark,
        spark.readStream.schema(arriving.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir2), sf,
        v1 = Some(v1)).collect())
      assert(healed == batch,
        s"stale row for vec $staleId survived the MERGE — newest write " +
          "did not supersede the bootstrap")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(srcDir2))
  }

  test("stream_ann_codes_upsert: merged codes probe equals batch " +
      "knn_ivfpq, multi-batch appends MERGE 16 rows per vector, and a " +
      "re-embedded vector replaces all its code rows across lists") {
    import org.apache.spark.sql.functions._
    val Sim = graft.queries.Similarity
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
    // frozen two-level book ⇒ merged (v1 + appends) codes ≡ full-build
    // codes ⇒ the post-drain probe is row-exact vs batch knn_ivfpq
    val batch = keyed(SparkEntry.queries("knn_ivfpq")(spark, sf).collect())
    val got = keyed(
      SparkEntry.queries("stream_ann_codes_upsert")(spark, sf).collect())
    assert(got == batch,
      "post-drain probe over the merged codes diverges from batch knn_ivfpq")
    // forced multi-batch: 3 triggers of arriving vectors; per-trigger
    // sink IO = 16 code rows per arriving (non-degenerate) vector
    val arriving = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(pmod(col("vec_id"), lit(5)) === 0)
    val nCodeRows = Sim.ivfPqCodes(spark, sf)
      .filter(pmod(col("vec_id"), lit(5)) === 0).count()
    val srcDir = timeSplitSource(arriving, 3, Seq(col("vec_id")))
    try {
      val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val multi = keyed(graft.streaming.Streaming.runAnnCodesUpsert(spark,
        spark.readStream.schema(arriving.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir), sf,
        onBatch = (id, n) => perBatch.synchronized { perBatch += ((id, n)) })
        .collect())
      assert(multi == batch, "multi-batch merged probe diverges from batch")
      val emitted = perBatch.synchronized(perBatch.sortBy(_._1))
        .map(_._2).filter(_ > 0)
      assert(emitted.size == 3 && emitted.sum == nCodeRows,
        s"per-trigger MERGE IO is not 16 x arrivals: $emitted " +
          s"(expected 3 triggers summing to $nCodeRows)")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(srcDir))
    // replacement across LISTS: seed the v1 codes with stale rows for
    // an arriving vec_id under a DIFFERENT coarse list (the re-embed-
    // moves-lists case). Keyed on (vec_id, m), the arriving encode
    // must replace all 16 rows — a leftover stale row would add a
    // phantom candidate under the wrong list.
    val staleId = arriving.filter(col("vec_id") >= Sim.NQueries)
      .agg(min(col("vec_id"))).head.getLong(0)
    val stale = Sim.ivfPqCodes(spark, sf)
      .filter(col("vec_id") === staleId)
      .withColumn("list", pmod(col("list") + 1,
        lit(graft.queries.Similarity.NCentroids.toLong)))
    val v1 = Sim.ivfPqCodes(spark, sf)
      .filter(pmod(col("vec_id"), lit(5)) =!= 0)
      .unionByName(stale)
    val srcDir2 = timeSplitSource(arriving, 2, Seq(col("vec_id")))
    try {
      val healed = keyed(graft.streaming.Streaming.runAnnCodesUpsert(spark,
        spark.readStream.schema(arriving.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir2), sf,
        v1 = Some(v1)).collect())
      assert(healed == batch,
        s"stale code rows for vec $staleId survived the MERGE")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(srcDir2))
  }

  test("maintain -> publish -> serve (A60/A57 loop): the maintenance run " +
      "publishes the merged lists as the next generation, a FRESH serve " +
      "session opens it in place (no re-seed copy, no build) and both " +
      "the streaming probe and the batch probe over it equal batch " +
      "knn_ivf — with the probe scan partition-pruned") {
    import org.apache.spark.sql.functions._
    val Sim = graft.queries.Similarity
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
    val batch = keyed(SparkEntry.queries("knn_ivf")(spark, sf).collect())
    val store = java.nio.file.Files
      .createTempDirectory("graft_serve_store").toString
    val key = s"sim.ivf.lists.maintained:$sf"
    val arriving = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(pmod(col("vec_id"), lit(5)) === 0)
    val srcDir = timeSplitSource(arriving, 2, Seq(col("vec_id")))
    try {
      // 1. maintenance session: delta MERGE + publish into the store
      val maintained = keyed(graft.streaming.Streaming.runAnnIndexUpsert(
        spark, spark.readStream.schema(arriving.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir), sf,
        publishTo = Some((store, key))).collect())
      assert(maintained == batch,
        "maintenance probe over the published generation diverges")
      // 2. FRESH serve session opens the published generation in place:
      // a pure read — zero disk builds, zero copies, full-corpus rows
      val s2 = spark.newSession()
      val (b0, _) = FrameCache.diskStats
      val served = FrameCache.openLatestGeneration(s2, store, key)
      assert(served.isDefined, "no latest-generation pointer after publish")
      val expectRows = Sim.ivfLists(spark, sf).count()
      assert(served.get.count() === expectRows,
        "maintained generation does not hold the full merged index")
      assert(FrameCache.diskStats._1 === b0,
        "serve session built or copied instead of opening in place")
      // 3. the A57 streaming serve path probes the MAINTAINED index
      val qdf = spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(col("vec_id") < Sim.NQueries)
      val qSrc = timeSplitSource(qdf, 2, Seq(col("vec_id")))
      try {
        val servedProbe = keyed(graft.streaming.Streaming.runAnnProbe(s2,
          s2.readStream.schema(qdf.schema)
            .option("maxFilesPerTrigger", 1).parquet(qSrc), sf,
          lists = Some(served.get)).collect())
        assert(servedProbe == batch,
          "A57 serving the maintained generation diverges from batch knn_ivf")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(qSrc))
      // 4. the batch probe plan over the published artifact is
      // partition-pruned AT THE SCAN (runtime numPartitions metric, not
      // an explain string — a planned pruning predicate can silently
      // degrade to true at physical planning): the generation is
      // cid-partitioned and the probe's literal probed-list filter must
      // read exactly the probed union at nProbe=1
      val (_, readParts) = PruneCheck.checkPruned(
        Sim.ivfProbeWith(s2, sf, served.get, nProbe = 1), "/gen-", 16)
      val expectedParts = Sim.probedCidUnion(s2, sf, nProbe = 1).size
      assert(readParts === expectedParts,
        s"maintained-generation scan read $readParts partitions, " +
          s"probed-list union is $expectedParts")
      // 5. retention knob: a second maintenance run with keep=1 sweeps
      // the first generation after publishing its own — the store holds
      // exactly one marked generation and the pointer serves it
      val gensDir = new java.io.File(FrameCache.artifactPath(store,
        s"$key#v${FrameCache.ArtifactFormatVersion}") + ".gens")
      assert(gensDir.listFiles().count(_.isDirectory) === 1)
      val srcDir2 = timeSplitSource(arriving, 2, Seq(col("vec_id")))
      try {
        spark.conf.set(
          graft.streaming.Streaming.GenerationsKeepConf, "1")
        val again = keyed(graft.streaming.Streaming.runAnnIndexUpsert(
          spark, spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir2), sf,
          publishTo = Some((store, key))).collect())
        assert(again == batch)
        val gens = gensDir.listFiles().filter(_.isDirectory)
        assert(gens.length === 1,
          s"keep=1 retention left ${gens.length} generations: ${
            gens.map(_.getName).toSeq}")
        assert(FrameCache.openLatestGeneration(s2, store, key)
          .get.count() === expectRows,
          "pointer does not serve the surviving generation after the sweep")
      } finally {
        spark.conf.unset(graft.streaming.Streaming.GenerationsKeepConf)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir2))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    }
  }

  test("incremental maintenance publish (A60): a delta touching few lists " +
      "publishes ONLY those partitions (manifest generation), heals a " +
      "moved-key stale row in its old list, and the chain serves batch " +
      "knn_ivf unchanged with the base pinned by retention") {
    import org.apache.spark.sql.functions._
    val Sim = graft.queries.Similarity
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
    val batch = keyed(SparkEntry.queries("knn_ivf")(spark, sf).collect())
    val store = java.nio.file.Files
      .createTempDirectory("graft_delta_store").toString
    val key = s"sim.ivf.lists.delta:$sf"
    val lists = Sim.ivfLists(spark, sf)
    // the 2-list cohort: every corpus row of the two smallest lists
    val cidsAll = lists.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    val Seq(c1, c2) = cidsAll.take(2).toSeq
    val c3 = cidsAll.last // the stale row's wrong list (re-embed moved)
    val cohortIds = lists.filter(col("cid").isin(c1, c2))
      .select(col("vec_id"))
    val moveVec = lists.filter(col("cid") === c1)
      .agg(min(col("vec_id"))).head.getLong(0)
    try {
      // generation 1: the full index, except moveVec's row sits STALE
      // under list c3 (the state a re-embedding that moved lists leaves
      // if the old list were not rewritten)
      val gen1df = lists.withColumn("cid",
        when(col("vec_id") === moveVec, lit(c3)).otherwise(col("cid")))
        .select("cid", "vec_id", "ea")
      val p1 = FrameCache.publishGeneration(spark, store, key, gen1df,
        FrameCache.Layout(partitionCols = Seq("cid")), "seed")
      // maintenance run: the cohort re-arrives; base = gen1 (from the
      // pointer), so the publish must be a DELTA over it
      val arriving = spark.read.parquet(s"$sf/embeddings.parquet")
        .join(cohortIds, Seq("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val srcDir = timeSplitSource(arriving, 2, Seq(col("vec_id")))
      try {
        spark.conf.set(graft.streaming.Streaming.GenerationsKeepConf, "1")
        val probed = keyed(graft.streaming.Streaming.runAnnIndexUpsert(
          spark, spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir), sf,
          publishTo = Some((store, key))).collect())
        assert(probed == batch,
          "probe over the delta-published chain diverges from batch knn_ivf")
        val p2 = FrameCache.latestGenerationPath(spark, store, key).get
        assert(p2 != p1)
        // publish IO ∝ touched lists: the new generation holds exactly
        // the arrival-assigned lists plus the stale row's old list
        val gen2Parts = new java.io.File(p2).listFiles()
          .filter(_.isDirectory).map(_.getName).toSet
        assert(gen2Parts === Set(s"cid=$c1", s"cid=$c2", s"cid=$c3"),
          s"delta generation wrote $gen2Parts — expected only the " +
            s"touched lists $c1, $c2 and the healed list $c3")
        assert(new java.io.File(p2, "_GRAFT_MANIFEST").exists())
        // the moved-key heal: the stale c3 copy is gone; moveVec sits
        // in its true list; the served view is exactly the full index
        val served = FrameCache.openLatestGeneration(spark, store, key).get
        assert(served.count() === lists.count())
        val moveRows = served.filter(col("vec_id") === moveVec)
          .select(col("cid")).collect().map(_.getLong(0)).toSeq
        assert(moveRows === Seq(c1),
          s"stale moved-key row not healed: lists $moveRows")
        // retention ran with keep=1 inside the maintenance run, but the
        // kept delta pins its base: BOTH generations remain
        val gensDir = new java.io.File(p2).getParentFile
        assert(gensDir.listFiles().count(_.isDirectory) === 2,
          "retention collected the base the kept delta references")
      } finally {
        spark.conf.unset(graft.streaming.Streaming.GenerationsKeepConf)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
      }
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
  }

  test("ann_index_health over an A60-published MAINTAINED generation: a " +
      "deliberately drifted arriving cohort is priced per list (exact " +
      "driver-side replay), the aggregate drift is positive, and " +
      "occupancy skew tracks where the arrivals landed") {
    import org.apache.spark.sql.functions._
    val Sim = graft.queries.Similarity
    val store = java.nio.file.Files
      .createTempDirectory("graft_health_store").toString
    val key = s"sim.ivf.lists.health:$sf"
    // the drifted cohort: the maintenance cohort re-arrives with its
    // embeddings REVERSED — same norms, deterministic, decorrelated
    // from the geometry the codebook was trained on (the codebook-
    // staleness condition E26 exists to detect)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cohort = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val srcDir = timeSplitSource(cohort, 2, Seq(col("vec_id")))
    try {
      graft.streaming.Streaming.runAnnIndexUpsert(spark,
        spark.readStream.schema(cohort.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir), sf,
        publishTo = Some((store, key))).collect()
      val served = FrameCache.openLatestGeneration(spark, store, key).get
      val cents = Sim.trainedCentroids(spark, sf)
      val isNew = pmod(col("vec_id"), lit(5)) === 0
      val report = Sim.indexHealthOver(spark, served, cents, isNew,
        Sim.exactAnchor(spark, sf), Sim.ivfFrame(spark, sf, Sim.NProbe))
        .collect().map(r => r.getAs[Long]("cid") -> r).toMap
      // exact driver-side replay over the served generation's rows
      def cosTo(v: Array[Float], c: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < v.length) {
          dot += v(i).toDouble * c(i); na += v(i).toDouble * v(i)
          nb += c(i).toDouble * c(i); i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val rows = served.collect().map(r => (r.getAs[Long]("cid"),
        r.getAs[Long]("vec_id"), r.getSeq[Float](2).toArray))
        .filter { case (_, _, v) => v.exists(_ != 0f) } // degenerates drop
      val tBuild = rows.count(_._2 % 5 != 0)
      val tNow = rows.length
      def micro(d: Double): Long = math.round(d * 1e6)
      rows.groupBy(_._1).foreach { case (cid, listRows) =>
        val r = report(cid)
        val build = listRows.filter(_._2 % 5 != 0)
        val fresh = listRows.filter(_._2 % 5 == 0)
        assert(r.getAs[Long]("n_build") === build.length.toLong)
        assert(r.getAs[Long]("n_now") === listRows.length.toLong)
        if (fresh.nonEmpty) {
          val expectNew = micro(
            fresh.map(t => cosTo(t._3, cents(cid.toInt))).sum / fresh.length)
          assert(r.getAs[Long]("cos_own_new_micro") === expectNew,
            s"list $cid new-cohort cosine mispriced")
        } else assert(r.isNullAt(r.fieldIndex("cos_own_new_micro")))
        if (build.nonEmpty) {
          val skew = micro((listRows.length.toDouble / tNow) /
            (build.length.toDouble / tBuild))
          assert(r.getAs[Long]("skew_micro") === skew,
            s"list $cid occupancy skew mispriced")
        }
      }
      // the deliberate drift is DETECTED: reversed embeddings sit
      // farther from the frozen centroids than the build did, so the
      // corpus-level drift is positive, and at least one list outgrew
      // its build share (the arrivals re-distributed)
      val summary = report(-1L)
      assert(summary.getAs[Long]("drift_micro") > 0L,
        s"drifted cohort not detected: ${summary.getAs[Long]("drift_micro")}")
      assert(report.values.exists(r => r.getAs[Long]("cid") >= 0 &&
        !r.isNullAt(r.fieldIndex("skew_micro")) &&
        r.getAs[Long]("skew_micro") > 1000000L),
        "no list outgrew its build share under the drifted arrivals")
      assert(!summary.isNullAt(summary.fieldIndex("recall_canary_micro")))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    }
  }

  test("incremental maintenance publish (A61): the codes delta touching " +
      "few lists publishes only those partitions and the chain serves " +
      "batch knn_ivfpq unchanged") {
    import org.apache.spark.sql.functions._
    val Sim = graft.queries.Similarity
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
    val batch = keyed(SparkEntry.queries("knn_ivfpq")(spark, sf).collect())
    val store = java.nio.file.Files
      .createTempDirectory("graft_delta_store_pq").toString
    val key = s"sim.ivfpq.codes.delta:$sf"
    val codes = Sim.ivfPqCodes(spark, sf)
    val listsAll = codes.select(col("list")).distinct()
      .collect().map(_.get(0).asInstanceOf[Number].longValue()).sorted
    val Seq(l1, l2) = listsAll.take(2).toSeq
    val cohortIds = codes.filter(col("list").isin(l1, l2))
      .select(col("vec_id")).distinct()
    try {
      val p1 = FrameCache.publishGeneration(spark, store, key, codes,
        FrameCache.Layout(partitionCols = Seq("list")), "seed")
      val arriving = spark.read.parquet(s"$sf/embeddings.parquet")
        .join(cohortIds, Seq("vec_id"))
        .select(col("vec_id"), col("embedding"))
      val srcDir = timeSplitSource(arriving, 2, Seq(col("vec_id")))
      try {
        val probed = keyed(graft.streaming.Streaming.runAnnCodesUpsert(
          spark, spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir), sf,
          publishTo = Some((store, key))).collect())
        assert(probed == batch,
          "IVFADC probe over the delta chain diverges from batch knn_ivfpq")
        val p2 = FrameCache.latestGenerationPath(spark, store, key).get
        assert(p2 != p1)
        val gen2Parts = new java.io.File(p2).listFiles()
          .filter(_.isDirectory).map(_.getName).toSet
        assert(gen2Parts === Set(s"list=$l1", s"list=$l2"),
          s"codes delta generation wrote $gen2Parts — not only touched")
        assert(new java.io.File(p2, "_GRAFT_MANIFEST").exists())
        assert(FrameCache.openLatestGeneration(spark, store, key)
          .get.count() === codes.count())
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(srcDir))
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
  }

  test("maintain -> publish -> serve (A61/A59 loop): the maintained codes " +
      "generation serves a fresh session's IVFADC probe, row-equal to " +
      "batch knn_ivfpq, with no re-seed copy") {
    import org.apache.spark.sql.functions._
    val Sim = graft.queries.Similarity
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
    val batch = keyed(SparkEntry.queries("knn_ivfpq")(spark, sf).collect())
    val store = java.nio.file.Files
      .createTempDirectory("graft_serve_store_pq").toString
    val key = s"sim.ivfpq.codes.maintained:$sf"
    val arriving = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(pmod(col("vec_id"), lit(5)) === 0)
    val srcDir = timeSplitSource(arriving, 2, Seq(col("vec_id")))
    try {
      val maintained = keyed(graft.streaming.Streaming.runAnnCodesUpsert(
        spark, spark.readStream.schema(arriving.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir), sf,
        publishTo = Some((store, key))).collect())
      assert(maintained == batch)
      val s2 = spark.newSession()
      val (b0, _) = FrameCache.diskStats
      val served = FrameCache.openLatestGeneration(s2, store, key)
      assert(served.isDefined, "no latest-generation pointer after publish")
      assert(served.get.count() === Sim.ivfPqCodes(spark, sf).count(),
        "maintained codes generation does not hold the full merged codes")
      assert(FrameCache.diskStats._1 === b0,
        "serve session built or copied instead of opening in place")
      // A59 streaming serve over the maintained codes
      val qdf = spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(col("vec_id") < Sim.NQueries)
      val qSrc = timeSplitSource(qdf, 2, Seq(col("vec_id")))
      try {
        val servedProbe = keyed(graft.streaming.Streaming.runAnnIvfPq(s2,
          s2.readStream.schema(qdf.schema)
            .option("maxFilesPerTrigger", 1).parquet(qSrc), sf,
          codes = Some(served.get)).collect())
        assert(servedProbe == batch,
          "A59 serving the maintained codes diverges from batch knn_ivfpq")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(qSrc))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    }
  }

  test("stream_oov_feed scores each arrival against the static vocab, multi-batch") {
    import spark.implicits._
    // static vocab side: three in-vocab tokens; the stream arrives in
    // TWO micro-batches — stateless stream-static join, so batch
    // boundaries must not change any row
    val vocabRow = Seq(Tuple1(Seq("alpha", "beta", "gamma"))).toDF("vocab")
    val b1 = Seq((1L, "alpha beta novel alpha", "en", "s", 22L),
      (2L, "", "en", "s", 0L)) // zero tokens -> NULL rate, row kept
    val b2 = Seq((3L, "gamma gamma unknown words here", "en", "s", 30L),
      (4L, "alpha beta gamma", "en", "s", 16L))
    val srcDir = plantedSource(Seq(b1, b2).map(
      _.toDF("doc_id", "text", "lang", "source", "n_chars")))
    val schema = spark.read.parquet(s"$srcDir/batch_0.parquet").schema
    val got = graft.streaming.Streaming.runOovFeed(spark,
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir), vocabRow)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == 4)
    def check(id: Long, nt: Long, oov: Long): Unit = {
      assert(got(id).getAs[Long]("n_tokens") == nt, s"doc $id n_tokens")
      assert(got(id).getAs[Long]("n_oov") == oov, s"doc $id n_oov")
      if (nt > 0)
        assert(got(id).getAs[Double]("oov_rate") == oov.toDouble / nt)
    }
    check(1L, 4, 1) // "novel" is OOV
    check(3L, 5, 3)
    check(4L, 3, 0)
    assert(got(2L).getAs[Long]("n_tokens") == 0)
    assert(got(2L).isNullAt(got(2L).fieldIndex("oov_rate")),
      "zero-token doc must keep its row with a NULL rate")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_transition_feed carries last-type state across MULTIPLE micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the stream_dwell harness with the transition payload: cross-batch
    // transitions (a user's consecutive events straddling a file
    // boundary) exist ONLY if the last-type state carries
    val srcDir = timeSplitSource(Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id")),
      4, Seq(col("ts"), col("event_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val typed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .as[graft.streaming.DwellEvent]
    val got = graft.streaming.Streaming.runTransitionFeed(spark, typed)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("from_type"), r.getAs[String]("to_type"))).toSet
    val batch = SparkEntry.queries("stream_transition_feed")(spark, sf)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("from_type"), r.getAs[String]("to_type"))).toSet
    assert(got === batch && got.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_scd2 closes intervals across MULTIPLE micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a run that STARTS in one batch and is closed by a change in a
    // later one yields its interval only if the run state carries
    val srcDir = timeSplitSource(Tables.events(spark, sf)
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("ts"), col("event_id"), col("value")),
      4, Seq(col("ts"), col("event_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val typed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .as[graft.streaming.KeyedEvent]
    val got = graft.streaming.Streaming.runScd2Feed(spark, typed)
      .collect().map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key"),
        r.getAs[Long]("valid_from_id"), r.getAs[Double]("value"))).toSet
    val batch = SparkEntry.queries("kv_scd2")(spark, sf)
      .filter(col("valid_to").isNotNull)
      .collect().map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key"),
        r.getAs[Long]("valid_from_id"), r.getAs[Double]("value"))).toSet
    assert(got === batch && got.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("transition/attribution feeds drop cross-batch-LATE data instead of corrupting state") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a row late ACROSS a batch boundary but inside the 1h watermark
    // must not pose as the newest event: no spurious transition, no
    // touch-state rollback, no purchase attributed to a future touch
    val base = 1600000000000000L
    def mk(rows: Seq[(String, Long, Long, Long)]) =
      rows.toDF("event_type", "user_id", "event_id", "us")
        .select(col("event_type"), col("user_id"),
          expr("timestamp_micros(us)").as("ts"), col("event_id"),
          lit(1.0).as("value"))
    val b0 = mk(Seq(("A", 1L, 1L, base + 100), ("B", 1L, 2L, base + 300)))
    val b1 = mk(Seq(("C", 1L, 3L, base + 200), // LATE: older than state (B@300)
      ("D", 1L, 4L, base + 400)))
    val srcDir = plantedSource(Seq(b0, b1))
    val schema = spark.read.parquet(s"$srcDir/batch_0.parquet").schema
    def typedStream[T: org.apache.spark.sql.Encoder]() =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(srcDir).as[T]
    val trans = graft.streaming.Streaming.runTransitionFeed(spark,
        typedStream[graft.streaming.DwellEvent]())
      .collect().map(r => (r.getAs[Long]("event_id"),
        r.getAs[String]("from_type"), r.getAs[String]("to_type"))).toSet
    assert(trans === Set((2L, "A", "B"), (4L, "B", "D")),
      s"late C must neither emit B->C nor become D's predecessor: $trans")

    // attribution: touch view@100; purchase@300 lands in batch 0.
    // Batch 1 plants a late touch click@50 (older than view@100 — must
    // not roll the touch state back) and a late purchase@80 (before
    // the stored touch — must not be attributed to the FUTURE view).
    val a0 = mk(Seq(("view", 7L, 1L, base + 100), ("purchase", 7L, 2L, base + 300)))
    val a1 = mk(Seq(("click", 7L, 3L, base + 50), ("purchase", 7L, 4L, base + 80),
      ("purchase", 7L, 5L, base + 400)))
    val attDir = plantedSource(Seq(a0, a1))
    val att = graft.streaming.Streaming.runAttributionFeed(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(attDir).as[graft.streaming.AttribEvent])
      .collect().map(r => (r.getAs[Long]("event_id"),
        r.getAs[String]("touch_type"))).toSet
    assert(att === Set((2L, "view"), (5L, "view")),
      s"late click must not rewrite the touch; late purchase@80 must not attribute: $att")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(attDir))
  }

  test("stream_attribution carries touch state across MULTIPLE micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // time-split harness: a purchase whose latest touch landed in an
    // earlier batch is attributed ONLY if the per-user touch state
    // carries between triggers
    val srcDir = timeSplitSource(Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("ts"), col("event_id"),
        col("value")),
      4, Seq(col("ts"), col("event_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val typed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .as[graft.streaming.AttribEvent]
    val got = graft.streaming.Streaming.runAttributionFeed(spark, typed)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("touch_type"))).toSet
    val batch = SparkEntry.queries("stream_attribution")(spark, sf)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("touch_type"))).toSet
    assert(got === batch && got.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_user_sample: bottom-k state is batch-boundary-invariant") {
    import org.apache.spark.sql.functions._
    // 3 triggers; the exact-order-statistic contract: the drained
    // stream's sample EQUALS the batch query's, however the input was
    // split — the property that earns this streaming sketch its oracle
    val srcDir = timeSplitSource(Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")),
      3, Seq(col("user_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val rows = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val got = graft.streaming.Streaming.runUserSample(spark, rows)
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("rk"),
        r.getAs[Long]("user_id"), r.getAs[String]("user_hash"))).toSet
    val batch = SparkEntry.queries("events_user_sample")(spark, sf)
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("rk"),
        r.getAs[Long]("user_id"), r.getAs[String]("user_hash"))).toSet
    assert(got === batch && got.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_corpus_pack: running offsets carry across doc_id-ordered batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 3 triggers split by doc_id RANGE — per-stream arrival stays
    // doc_id-ascending (the A41 contract), so the carried offset must
    // reproduce the batch window pass exactly; a per-batch state reset
    // would zero every stream's offset at each boundary
    val srcDir = timeSplitSource(Tables.documents(spark, sf), 3, Seq(col("doc_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val rows = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val got = graft.streaming.Streaming.runCorpusPack(spark,
      graft.streaming.Streaming.packProjection(rows).as[graft.streaming.PackDoc])
      .collect().map(r => (r.getAs[Int]("stream"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("start_off"), r.getAs[Long]("first_bin"),
        r.getAs[Long]("last_bin"), r.getAs[Long]("n_pieces"))).toSet
    val batch = SparkEntry.queries("corpus_pack")(spark, sf)
      .collect().map(r => (r.getAs[Int]("stream"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("start_off"), r.getAs[Long]("first_bin"),
        r.getAs[Long]("last_bin"), r.getAs[Long]("n_pieces"))).toSet
    assert(got === batch && got.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_corpus_pack: out-of-order docs are counted, not silently lost") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // batch 2 replays doc 5 (duplicate) and delivers doc 3 late (both
    // violate the per-stream ascending contract on stream 0); the
    // accumulator must count exactly those two and the packed output
    // must contain each in-order doc once
    val b1 = Seq((1L, 10L, 0), (5L, 10L, 0)).toDF("doc_id", "toks", "stream")
    val b2 = Seq((5L, 10L, 0), (3L, 10L, 0), (7L, 10L, 0))
      .toDF("doc_id", "toks", "stream")
    val srcDir = plantedSource(Seq(b1, b2))
    val schema = spark.read.parquet(s"$srcDir/batch_0.parquet").schema
    val rows = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val acc = spark.sparkContext.longAccumulator("test.pack.dropped")
    val got = graft.streaming.Streaming.runCorpusPack(spark,
      rows.as[graft.streaming.PackDoc], Some(acc))
      .collect().map(r => r.getAs[Long]("doc_id")).sorted.toSeq
    assert(got == Seq(1L, 5L, 7L), s"packed docs: $got")
    assert(acc.value == 2L, s"dropped-doc count ${acc.value} != 2")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_sliding_rollup_append emits each closed window once across MULTIPLE batches") {
    import org.apache.spark.sql.functions._
    // 3 time-ordered triggers: the watermark advances batch-by-batch,
    // so early windows close (and must emit EXACTLY once) while later
    // batches are still arriving; trailing still-open windows must NOT
    // appear. Expected = the batch sliding window restricted to
    // win_end <= ms-floored max event time - 1 h (the A20 flooring).
    val srcDir = timeSplitSource(Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value")), 3, Seq(col("ts")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val rows = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val gotRows = graft.streaming.Streaming.runSlidingRollupAppend(spark, rows)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("win_start"),
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value")))
    val got = gotRows.toSet
    assert(gotRows.length == got.size, "a closed window was emitted twice")
    val maxUs = Tables.events(spark, sf)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val horizonUs = maxUs / 1000 * 1000 - 3600000000L
    val batch = SparkEntry.queries("events_sliding_window")(spark, sf)
      .filter(unix_micros(col("win_start")) + 3L * 3600000000L <= horizonUs)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("win_start"),
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value"))).toSet
    assert(got === batch && got.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_count_min: linear sketch state is batch-boundary-invariant") {
    import org.apache.spark.sql.functions._
    // 3 triggers; the linearity contract: counters after the drain are
    // the elementwise sums a single batch pass would produce, so the
    // probe estimates EQUAL the batch query's — the property that
    // earns this streaming sketch its oracle (A36's argument, via
    // linearity instead of order statistics)
    val srcDir = timeSplitSource(Tables.events(spark, sf)
      .select(col("user_id")), 3, Seq(col("user_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val rows = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val got = graft.streaming.Streaming.runCountMin(spark, rows)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("est_count"), r.getAs[Long]("n_total"))).toSet
    val batch = SparkEntry.queries("events_count_min")(spark, sf)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("est_count"), r.getAs[Long]("n_total"))).toSet
    assert(got === batch && got.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_heavy_hitters merges the MG sketch across MULTIPLE micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 3 files, one per trigger. The merge proof is n_total = 3000: a
    // sketch restarting per batch would report the last batch's 1000.
    // The planted 40% key must also survive with the MG bound applied
    // to its GLOBAL count — a bound no single batch's counters imply.
    val rng = new scala.util.Random(7)
    val srcDir = plantedSource((1 to 3).map { _ =>
      val hot = Seq.fill(400)("hot")
      val cold = (0 until 600).map(_ => s"cold${rng.nextInt(400)}")
      rng.shuffle(hot ++ cold).toDF("event_type")
    })
    val schema = spark.read.parquet(s"$srcDir/batch_0.parquet").schema
    val rows = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val out = graft.streaming.Streaming.runHeavyHitters(spark, rows, k = 8)
      .collect()
    val byItem = out.map(r =>
      r.getAs[String]("event_type") -> r.getAs[Long]("est_count")).toMap
    // all 3000 rows reached the one sketch
    assert(out.forall(_.getAs[Long]("n_total") == 3000L))
    // 40% hot key survives with the MG bound: est in [true - n/k, true]
    assert(byItem.contains("hot"), s"hot key lost across batches: $byItem")
    assert(byItem("hot") <= 1200L && 1200L - byItem("hot") <= 3000L / 8)
    // emission rule: everything shown clears n/k
    assert(out.forall(_.getAs[Long]("est_count") > 3000L / 8))
  }

  test("stream_key_skew equals the batch histogram regardless of batch boundaries") {
    // counts are linear in the input (merge = sum), so the drained
    // complete-mode state must equal B53's batch profile exactly
    val batch = SparkEntry.queries("events_key_skew")(spark, sf).collect()
      .map(r => r.getAs[Int]("bucket") ->
        ((r.getAs[Long]("n_keys"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("min_cnt"), r.getAs[Long]("max_cnt"),
          r.getAs[Double]("share")))).toMap
    val stream = SparkEntry.queries("stream_key_skew")(spark, sf).collect()
      .map(r => r.getAs[Int]("bucket") ->
        ((r.getAs[Long]("n_keys"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("min_cnt"), r.getAs[Long]("max_cnt"),
          r.getAs[Double]("share")))).toMap
    assert(stream == batch, s"skew profile diverges: $stream vs $batch")
    // histogram invariants: buckets partition the key mass
    assert(batch.values.map(_._1).sum > 0)
    batch.foreach { case (b, (_, _, mn, mx, _)) =>
      assert(mn <= mx && java.lang.Long.toBinaryString(mn).length == b
        && java.lang.Long.toBinaryString(mx).length == b,
        s"bucket $b bounds [$mn, $mx] outside its bit-length class")
    }
  }

  test("stream_mix_drift equals the batch drift regardless of batch boundaries") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => r.getAs[java.sql.Timestamp]("day") ->
          ((r.getAs[Long]("n_events"), r.getAs[Long]("n_types"),
            r.getAs[Double]("tvd")))).toMap
    val batch = rows("events_mix_drift")
    val stream = rows("stream_mix_drift")
    assert(stream == batch, s"drift feed diverges: $stream vs $batch")
    assert(batch.nonEmpty && batch.values.forall(v => v._3 >= 0.0 && v._3 <= 1.0))
  }

  test("stream_kv_ttl equals the batch TTL snapshot regardless of batch boundaries") {
    // last-write state is a max over (ts, event_id, value) structs —
    // merge is max, so the drained complete-mode state must equal the
    // batch pick exactly, whatever the file/batch split was
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key")) ->
          ((r.getAs[Double]("value"), r.getAs[java.sql.Timestamp]("ts"),
            r.getAs[Long]("expires_us")))).toMap
    val batch = rows("kv_ttl_snapshot")
    val stream = rows("stream_kv_ttl")
    assert(stream == batch, s"TTL snapshot diverges: $stream vs $batch")
    assert(batch.nonEmpty)
    // expiry really is write-time + TTL
    batch.values.foreach { case (_, ts, exp) =>
      val us = ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
      assert(exp == us + graft.queries.Coordination.KvRowTtlMicros)
    }
  }

  test("stream_funnel_latency carries stage state across MULTIPLE micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 4 time-split files, one per trigger: a click whose signup landed
    // in an earlier batch (or a purchase whose click did) emits its
    // latency ONLY if the per-user FunnelState triple carries between
    // triggers. Reference = the single-file streaming run.
    val srcDir = timeSplitSource(Tables.events(spark, sf)
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .select(col("event_type").as("namespace"), col("user_id").as("key"),
        col("ts"), col("event_id"), col("value")),
      4, Seq(col("ts"), col("event_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val typed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .as[graft.streaming.KeyedEvent]
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[String]("stage"),
        r.getAs[Long]("lat_us"))
    val got = graft.streaming.Streaming.runFunnelLatency(spark, typed)
      .collect().map(key).toSet
    val oneBatch = SparkEntry.queries("stream_funnel_latency")(spark, sf)
      .collect().map(key).toSet
    assert(got === oneBatch && got.nonEmpty)
    // both latency stages must be exercised
    assert(got.map(_._2) === Set("signup_to_click", "click_to_purchase"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_incremental_dedup carries the batch-keeper state across triggers") {
    import spark.implicits._
    // planted arrival set, doc_id-ascending (the A50/A41 contract),
    // split so every interesting transition straddles a trigger:
    //   batch 1: doc 1 hash hx (not in v1) -> admit, keeper state hx->1
    //            doc 2 hash hv (v1 keeper 99) -> dup_of_existing
    //   batch 2: doc 3 hash hx -> dup_in_batch OF 1 (state must carry)
    //            doc 4 hash hy -> admit
    //   batch 3: doc 5 hash hy -> dup_in_batch OF 4
    //            doc 6 hash hv -> dup_of_existing (stateless re-check)
    val arrivals = Seq(
      graft.streaming.IncArrival(1L, "hx", None),
      graft.streaming.IncArrival(2L, "hv", Some(99L)),
      graft.streaming.IncArrival(3L, "hx", None),
      graft.streaming.IncArrival(4L, "hy", None),
      graft.streaming.IncArrival(5L, "hy", None),
      graft.streaming.IncArrival(6L, "hv", Some(99L)))
    val srcDir = timeSplitSource(arrivals.toDF(),
      3, Seq(org.apache.spark.sql.functions.col("doc_id")))
    val schema = spark.read.parquet(s"$srcDir/batch_1.parquet").schema
    val typed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .as[graft.streaming.IncArrival]
    val got = graft.streaming.Streaming.runIncrementalDedup(spark, typed)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("disposition"),
          if (r.isNullAt(r.fieldIndex("dup_of"))) None
          else Some(r.getAs[Long]("dup_of"))))).toMap
    assert(got == Map(
      1L -> (("admit", None)), 2L -> (("dup_of_existing", Some(99L))),
      3L -> (("dup_in_batch", Some(1L))), 4L -> (("admit", None)),
      5L -> (("dup_in_batch", Some(4L))), 6L -> (("dup_of_existing", Some(99L)))))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
    // and on the real corpus the full feed equals the batch table
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("content_hash"), r.getAs[String]("disposition"),
          if (r.isNullAt(r.fieldIndex("dup_of"))) None
          else Some(r.getAs[Long]("dup_of"))))).toMap
    val stream = rows("stream_incremental_dedup")
    val batch = rows("dedup_incremental")
    assert(stream == batch && batch.nonEmpty)
  }

  test("stream_seasonal_anomalies equals the batch dense-grid z regardless of boundaries") {
    // complete-mode (type, day, hod) counts are linear in the input, so
    // the drained sink equals the batch rollup whatever the batch split
    // — and the shared seasonalAnomalyRows body does the rest
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getAs[String]("event_type"),
          r.getAs[java.sql.Timestamp]("day"), r.getAs[Int]("hod")) ->
          ((r.getAs[Long]("n_events"), r.getAs[Double]("zscore")))).toMap
    val batch = rows("events_seasonal_anomalies")
    val stream = rows("stream_seasonal_anomalies")
    assert(stream == batch, s"seasonal feed diverges")
    assert(batch.nonEmpty)
  }

  test("stream_changepoint equals the batch CUSUM regardless of boundaries") {
    // complete-mode (type, hour) counts are linear in the input, so the
    // drained sink equals the batch rollup whatever the batch split —
    // and the shared changepointRows body does the rest
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[java.sql.Timestamp]("cp_hour"), r.getAs[Long]("n_hours"),
            r.getAs[Long]("total_events"), r.getAs[Long]("cusum_scaled"))))
        .toMap
    val batch = rows("events_changepoint")
    val stream = rows("stream_changepoint")
    assert(stream == batch, s"changepoint feed diverges")
    assert(batch.nonEmpty)
  }

  test("runKeyedUpsert: per-trigger sink IO is proportional to CHANGED keys, " +
      "and the drained table equals the batch counts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // batch 0 touches 50 keys; batch 1 touches only keys 1..5 — the
    // update-mode agg must emit exactly the 5 changed keys to the
    // second trigger (complete mode would re-emit all 50: the r12
    // A44/A47 scale-killer this sink exists to fix)
    val b0 = (1L to 50L).map(k => (k, 1.0)).toDF("user_id", "v")
    val b1 = (1L to 5L).map(k => (k, 2.0)).toDF("user_id", "v")
    val srcDir = plantedSource(Seq(b0, b1))
    val schema = b0.schema
    val counts = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val got = graft.streaming.Streaming.runKeyedUpsert(
        spark, counts, Seq("user_id"), (id, n) => perBatch.synchronized {
          perBatch += ((id, n)) })
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("cnt"))
      .toMap
    // drained keyed table == batch counts
    val expect = ((1L to 5L).map(_ -> 2L) ++ (6L to 50L).map(_ -> 1L)).toMap
    assert(got == expect, s"drained state diverges: $got")
    // per-trigger emissions: 50 changed keys, then 5 — never the full
    // keyspace again (trailing no-data batches may log 0 rows)
    val emitted = perBatch.sortBy(_._1).map(_._2).filter(_ > 0)
    assert(emitted == Seq(50L, 5L),
      s"per-trigger sink IO not proportional to changed keys: $perBatch")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("runKeyedUpsert property: random bootstrap + batches converge to " +
      "last-write-wins over every key-overlap pattern") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // seeded-random trials: a bootstrap table plus 3 batches with
    // arbitrary key overlap (seed-replacements, cross-batch rewrites,
    // never-touched seed keys, keys born mid-stream). Expected state =
    // the driver-side fold: last batch containing the key wins, else
    // the seed value. Each batch honors the documented one-row-per-key
    // contract (intra-batch winners are intentionally arbitrary).
    val rng = new scala.util.Random(61)
    (1 to 4).foreach { trial =>
      val keys = 0L until (20 + rng.nextInt(30))
      // trial 4 pins the degenerate edges explicitly: an EMPTY
      // bootstrap and an EMPTY middle batch. A zero-row partitionBy
      // write leaves _SUCCESS with no bucket dirs — pre-fix, the next
      // existence check read that as live state and the read-back
      // crashed on schema inference instead of treating it as empty.
      val seed = keys.filter(_ => trial != 4 && rng.nextBoolean())
        .map(k => (k, rng.nextInt(1000).toDouble)).toMap
      val batches = (1 to 3).map { i =>
        keys.filter(_ => !(trial == 4 && i == 2) && rng.nextDouble() < 0.4)
          .map(k => (k, rng.nextInt(1000).toDouble)).toMap
      }
      val expect = batches.foldLeft(seed)(_ ++ _)
      val srcDir = plantedSource(batches.map(b =>
        b.toSeq.toDF("user_id", "v")))
      try {
        val got = graft.streaming.Streaming.runKeyedUpsert(spark,
            spark.readStream.schema(batches.head.toSeq.toDF("user_id", "v").schema)
              .option("maxFilesPerTrigger", 1).parquet(srcDir),
            Seq("user_id"),
            bootstrap = Some(seed.toSeq.toDF("user_id", "v")))
          .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("v"))
          .toMap
        assert(got == expect,
          s"trial $trial diverged from the last-write-wins fold: " +
            s"got ${got.toSeq.sorted.take(8)}… expect ${expect.toSeq.sorted.take(8)}…")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(srcDir))
    }
  }

  test("stream_kv_ttl_upsert equals the batch TTL snapshot across MULTIPLE " +
      "micro-batches") {
    import org.apache.spark.sql.functions._
    // same-shaped assertion as the complete-mode anchor (A47), but
    // through the incremental keyed sink and a forced 4-trigger split:
    // a key whose last write landed in batch 1 must survive batches
    // 2-4 untouched in its bucket, and a key rewritten later must be
    // superseded (batch_seq max wins)
    val srcDir = timeSplitSource(
      Tables.events(spark, sf), 4, Seq(col("ts"), col("event_id")))
    val stream = Tables.withMicroTs(
      spark.readStream.schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir))
    val got = graft.queries.Coordination.kvTtlRows(
        graft.streaming.Streaming.runKeyedUpsert(spark,
          graft.queries.Coordination.lastWrites(stream),
          Seq("namespace", "key")),
        graft.queries.Coordination.KvRowTtlMicros)
      .collect()
      .map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key")) ->
        ((r.getAs[Double]("value"), r.getAs[java.sql.Timestamp]("ts"),
          r.getAs[Long]("expires_us")))).toMap
    val batch = SparkEntry.queries("kv_ttl_snapshot")(spark, sf).collect()
      .map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key")) ->
        ((r.getAs[Double]("value"), r.getAs[java.sql.Timestamp]("ts"),
          r.getAs[Long]("expires_us")))).toMap
    assert(got == batch, "keyed-sink TTL snapshot diverges from batch")
    assert(batch.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_strip_boilerplate equals batch stripping across MULTIPLE " +
      "micro-batches") {
    import org.apache.spark.sql.functions._
    // per-doc stripping against the frozen chrome dictionary is
    // independent of the file/batch split — force 3 triggers and
    // compare the drained feed to batch C38 row-for-row
    val srcDir = timeSplitSource(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")),
      3, Seq(col("doc_id")))
    val toks = spark.readStream
      .schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .select(col("doc_id"),
        graft.functions.expressions.tokenize_words(col("text")).as("t"))
    def asMap(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[Double]("kept_ratio"), r.getAs[String]("cleaned_hash"))))
      .toMap
    val got = asMap(graft.streaming.Streaming.runStripFeed(spark, toks,
      graft.queries.TextAnalysis.chromeGrams(spark, sf)).collect())
    val batch = asMap(
      SparkEntry.queries("text_strip_boilerplate")(spark, sf).collect())
    assert(got == batch, "multi-batch stripped feed diverges from batch")
    assert(batch.nonEmpty && batch.values.exists(_._2 > 0),
      "corpus exhibits no boilerplate — the spec is vacuous")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }

  test("stream_value_watch emits identical notifications across MULTIPLE " +
      "micro-batches") {
    import org.apache.spark.sql.functions._
    // closed-tick emission is watermark-driven, so the feed must not
    // depend on where the file/batch boundaries fall — time-ordered
    // split (watermark only moves forward)
    val srcDir = timeSplitSource(
      Tables.events(spark, sf), 4, Seq(col("ts"), col("event_id")))
    val stream = Tables.withMicroTs(
      spark.readStream.schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir))
    def asMap(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[String]("namespace"), r.getAs[Long]("key"),
        r.getAs[java.sql.Timestamp]("notify_ts")) ->
        ((r.getAs[Double]("value"),
          Option(r.getAs[java.lang.Double]("prev_value"))))).toMap
    val got = asMap(
      graft.streaming.Streaming.runValueWatch(spark, stream).collect())
    val single = asMap(
      SparkEntry.queries("stream_value_watch")(spark, sf).collect())
    assert(got == single, "multi-batch watch feed diverges from single-batch")
    assert(single.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcDir))
  }
}
