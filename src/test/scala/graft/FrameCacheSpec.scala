package graft

import org.scalatest.funsuite.AnyFunSuite

/** Reentrancy contract for the session-scoped staging cache: a build
  * closure may itself stage a second key (dedup.clusters builds on
  * dedup.shingled). The round-4 implementation ran builds inside
  * ConcurrentHashMap.computeIfAbsent, which throws
  * IllegalStateException("Recursive update") whenever the outer and
  * nested (session, key) tuples hash into the same bin — an
  * identity-hash-dependent intermittent crash. These specs force the
  * colliding-bin case deterministically.
  */
class FrameCacheSpec extends AnyFunSuite {
  import SparkTestSession._

  /** CHM bin spread (java.util.concurrent.ConcurrentHashMap.spread). */
  private def spread(h: Int): Int = (h ^ (h >>> 16)) & 0x7fffffff

  test("nested getOrPersist through one build closure (colliding bins)") {
    val outer = "spec.reentrant.outer"
    // find an inner key whose (session, key) tuple lands in the same CHM
    // bin as the outer for any table size up to 64 (same low 6 spread
    // bits) — the exact condition under which the round-4 code crashed
    val outerBits = spread((spark, outer).hashCode()) & 63
    val inner = Iterator.from(0).map(i => s"spec.reentrant.inner.$i")
      .find(k => (spread((spark, k).hashCode()) & 63) == outerBits).get
    val df = FrameCache.getOrPersist(spark, outer) {
      val base = FrameCache.getOrPersist(spark, inner) {
        spark.range(10).toDF("id")
      }
      base.filter(org.apache.spark.sql.functions.col("id") < 5)
    }
    assert(df.count() === 5)
    // both keys cached: repeat builds must be no-ops
    var rebuilt = false
    FrameCache.getOrPersist(spark, outer) { rebuilt = true; spark.range(1).toDF("id") }
    FrameCache.getOrPersist(spark, inner) { rebuilt = true; spark.range(1).toDF("id") }
    assert(!rebuilt, "cached keys were rebuilt")
    // the spec's tiny range frames stay cached until the application-end
    // listener collects them — evict(spark) here would drop other suites'
    // shared stages
  }

  test("concurrent double-build of one key keeps a single cached copy") {
    val key = "spec.race.single"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
          def call() = {
            gate.await()
            FrameCache.getOrPersist(spark, key) {
              builds.incrementAndGet()
              spark.range(7).toDF("id")
            }
          }
        })
      }
      val frames = futs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      // both callers see the same winning frame; the losing build (if the
      // race fired) was unpersisted, not leaked into the cache
      assert(frames.head eq frames.last)
      assert(frames.head.count() === 7)
      assert(builds.get() >= 1 && builds.get() <= 2)
      var rebuilt = false
      FrameCache.getOrPersist(spark, key) { rebuilt = true; spark.range(1).toDF("id") }
      assert(!rebuilt)
    } finally pool.shutdownNow()
  }

  test("index dir: second SESSION loads the staged artifact instead of " +
      "rebuilding, and its plan scans the artifact, not the source") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    val key = "spec.indexdir.artifact"
    // two sessions sharing the context — the per-job-session deployment
    // shape the FrameCache scaladoc describes
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    val s2 = spark.newSession(); s2.conf.set(FrameCache.IndexDirConf, dir)
    try {
      var builds = 0
      def build(s: org.apache.spark.sql.SparkSession) =
        FrameCache.getOrPersist(s, key) {
          builds += 1
          s.range(100).toDF("id")
            .withColumn("sq", col("id") * col("id"))
        }
      val (b0, l0) = FrameCache.diskStats
      val first = build(s1)
      assert(first.count() === 100 && builds === 1)
      assert(new java.io.File(
        s"${FrameCache.artifactPathFor(s1, dir, key)}/_SUCCESS").exists(),
        "artifact not written")
      // session 2: the build closure must NOT run — the artifact loads
      val second = build(s2)
      assert(second.count() === 100 && builds === 1,
        "second session rebuilt instead of loading the artifact")
      val (b1, l1) = FrameCache.diskStats
      assert(b1 - b0 === 1 && l1 - l0 === 1,
        s"disk stats: builds ${b1 - b0}, loads ${l1 - l0}")
      // the loaded plan hangs off the artifact scan — no source lineage
      val plan = second.queryExecution.optimizedPlan.toString
      assert(plan.contains("graft_idx"),
        s"loaded plan does not scan the index dir:\n$plan")
      assert(!plan.toLowerCase.contains("range"),
        s"loaded plan still carries the build lineage:\n$plan")
      // values round-trip exactly
      assert(second.agg(sum(col("sq"))).head.getLong(0) ===
        first.agg(sum(col("sq"))).head.getLong(0))
    } finally {
      FrameCache.evict(s1); FrameCache.evict(s2)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("artifact paths embed the format version and the corpus " +
      "fingerprint — bumping either re-keys the artifact") {
    val dir = "/idx"
    // the readable tail carries key + '#vN' + '@fp' (sanitized to _):
    // a format-version bump orphans every old artifact instead of
    // serving the OLD algorithm's output as 'never rebuilt'
    val p = FrameCache.artifactPathFor(spark, dir, s"spec.version:$sf")
    assert(p.contains(s"_v${FrameCache.ArtifactFormatVersion}_"),
      s"format version missing from artifact path: $p")
    // corpus fingerprint present for dir-embedding keys (the '@fp'
    // section between version and hash), absent for pathless keys
    val pathless = FrameCache.artifactPathFor(spark, dir, "spec.version")
    assert(pathless.endsWith(".parquet") &&
      pathless.contains(s"_v${FrameCache.ArtifactFormatVersion}-"),
      s"pathless key should carry version but no fingerprint: $pathless")
    // different keys can never collide (md5 of the FULL key in the name)
    assert(p != FrameCache.artifactPathFor(spark, dir, s"spec.version2:$sf"))
  }

  test("a relative corpus dir is fingerprinted: a rewrite re-keys and rebuilds") {
    val rel = java.nio.file.Paths.get("target",
      s"graft_rel_${java.util.UUID.randomUUID().toString.take(8)}")
    val f = java.nio.file.Files.createDirectories(rel).resolve("t.parquet")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    val key = s"spec.relative:$rel"
    try {
      var builds = 0
      def lookup() = FrameCache.getOrPersist(spark, key) {
        builds += 1; spark.range(1).toDF("id")
      }
      val path = FrameCache.artifactPathFor(spark, "/idx", key)
      lookup(); lookup()
      assert(builds === 1)
      java.nio.file.Files.write(f, Array[Byte](1, 2, 3, 4))
      assert(FrameCache.artifactPathFor(spark, "/idx", key) != path,
        s"artifact path $path did not change with the rewritten file")
      lookup()
      assert(builds === 2, "memo entry survived the rewrite")
    } finally {
      FrameCache.evictMatching(spark, key)
      org.apache.commons.io.FileUtils.deleteQuietly(rel.toFile)
    }
  }

  test("index dir: an UNMARKED destination (writer died between rename " +
      "and _SUCCESS) is treated as abandoned — deleted and rebuilt clean") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_crash").toString
    val key = "spec.indexdir.crashwindow"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    // genuinely-abandoned publish: don't wait the production grace
    s1.conf.set(FrameCache.PublishGraceConf, "200")
    try {
      // simulate the crash window: the artifact directory exists with
      // data files but NO _SUCCESS (a writer died after rename(tmp,p),
      // before the marker create). Pre-fix, the next build's rename
      // onto the existing dir nested tmp INSIDE it ("move into dest"),
      // then stamped _SUCCESS over a mixed directory — served forever.
      val p = new java.io.File(FrameCache.artifactPathFor(s1, dir, key))
      assert(p.mkdirs())
      java.nio.file.Files.writeString(
        p.toPath.resolve("part-stale.parquet"), "stale-not-parquet")
      val (b0, _) = FrameCache.diskStats
      val df = FrameCache.getOrPersist(s1, key) {
        s1.range(25).toDF("id").withColumn("v", col("id") * 2)
      }
      assert(df.count() === 25, "rebuild over an abandoned publish failed")
      val (b1, _) = FrameCache.diskStats
      assert(b1 - b0 === 1, "unmarked destination was not rebuilt")
      // the published directory is CLEAN: marker present, no stale
      // file, no nested tmp copy
      val names = p.listFiles().map(_.getName).toSet
      assert(names.contains("_SUCCESS"), s"no marker after rebuild: $names")
      assert(!names.contains("part-stale.parquet"),
        s"stale pre-crash file survived the republish: $names")
      assert(!names.exists(_.contains(".tmp-")),
        s"temp dir nested inside the published artifact: $names")
      // and a fresh session LOADS the republished artifact
      val s2 = spark.newSession(); s2.conf.set(FrameCache.IndexDirConf, dir)
      val (b2, _) = FrameCache.diskStats
      assert(FrameCache.getOrPersist(s2, key) {
        fail("fresh session rebuilt a marked artifact")
      }.count() === 25)
      assert(FrameCache.diskStats._1 === b2)
      FrameCache.evict(s2)
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("index dir: an unmarked destination whose writer is still ALIVE " +
      "(marker lands during the grace poll) is loaded, never deleted") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_live").toString
    val key = "spec.indexdir.livewriter"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    s1.conf.set(FrameCache.PublishGraceConf, "5000")
    try {
      // simulate the live-race window: another JVM's writer has
      // completed rename(tmp,p) — data files all present — but has not
      // yet created _SUCCESS. Pre-grace-poll, this session would
      // delete p on sight (destroying the winner's publish) and
      // rebuild; the winner's pending fs.create(marker) would then
      // re-create p and bless whatever landed next. With the grace
      // poll, this session waits, sees the marker arrive, and LOADS.
      val p = new java.io.File(FrameCache.artifactPathFor(s1, dir, key))
      val winner = s1.range(33).toDF("id").withColumn("v", col("id") * 3)
      winner.write.parquet(p.toString)
      // a v3 writer publishes the sidecar with the data, before the
      // marker — simulate the same order
      java.nio.file.Files.writeString(p.toPath.resolve("_GRAFT_META"),
        FrameCache.ArtifactFormatVersion + "\n" + winner.schema.json)
      val marker = p.toPath.resolve("_SUCCESS")
      java.nio.file.Files.delete(marker) // rename done, marker pending
      val sentinel = p.toPath.resolve("_winner-sentinel")
      java.nio.file.Files.writeString(sentinel, "")
      val lateWriter = new Thread(() => {
        Thread.sleep(400)
        java.nio.file.Files.createFile(marker)
      })
      lateWriter.start()
      val (b0, l0) = FrameCache.diskStats
      val df = FrameCache.getOrPersist(s1, key) {
        fail("grace poll deleted a live writer's publish and rebuilt")
      }
      lateWriter.join()
      assert(df.count() === 33, "loaded frame lost the winner's rows")
      val (b1, l1) = FrameCache.diskStats
      assert(b1 - b0 === 0 && l1 - l0 === 1,
        s"expected pure load: builds ${b1 - b0}, loads ${l1 - l0}")
      assert(java.nio.file.Files.exists(sentinel),
        "winner's data file was deleted during the grace window")
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("index dir: an unmarked destination older than the grace window " +
      "is declared abandoned IMMEDIATELY — no per-key grace stall") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_old").toString
    val key = "spec.indexdir.stale"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    // production-sized grace: pre-fix this test would stall 120 s here
    s1.conf.set(FrameCache.PublishGraceConf, "120000")
    try {
      val p = new java.io.File(FrameCache.artifactPathFor(s1, dir, key))
      assert(p.mkdirs())
      java.nio.file.Files.writeString(
        p.toPath.resolve("part-stale.parquet"), "stale")
      // age the directory past the grace window: no live writer renamed
      // this recently, so there is nobody to wait for
      java.nio.file.Files.setLastModifiedTime(p.toPath,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 600000L))
      val t0 = System.nanoTime()
      val df = FrameCache.getOrPersist(s1, key) {
        s1.range(9).toDF("id")
      }
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(df.count() === 9)
      assert(elapsedMs < 60000L,
        s"stale unmarked destination still paid the grace poll: ${elapsedMs}ms")
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("index dir: a marker-blessed directory WITHOUT a valid sidecar " +
      "(pre-created/poisoned path, or a stale format) is rebuilt, " +
      "never loaded") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_poison").toString
    val key = "spec.indexdir.poisoned"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    s1.conf.set(FrameCache.PublishGraceConf, "200")
    try {
      // an attacker (or a crashed foreign tool) pre-creates the path
      // with a blessing marker but no sidecar — loading it blind was
      // the r16 advisor's poisoning finding
      val p = new java.io.File(FrameCache.artifactPathFor(s1, dir, key))
      assert(p.mkdirs())
      java.nio.file.Files.createFile(p.toPath.resolve("_SUCCESS"))
      java.nio.file.Files.writeString(
        p.toPath.resolve("part-evil.parquet"), "not-your-data")
      val (b0, _) = FrameCache.diskStats
      val df = FrameCache.getOrPersist(s1, key) {
        s1.range(11).toDF("id")
      }
      assert(df.count() === 11,
        "poisoned marker-blessed directory was served instead of rebuilt")
      assert(FrameCache.diskStats._1 - b0 === 1)
      val names = p.listFiles().map(_.getName).toSet
      assert(names.contains("_GRAFT_META") && !names.contains("part-evil.parquet"),
        s"poisoned content survived the rebuild: $names")
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("index dir: a partitioned Layout writes hive partitions, loads " +
      "back with the build's schema (order and types), and is returned " +
      "as the raw prunable scan (no InMemoryRelation)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_part").toString
    val key = "spec.indexdir.layout"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    try {
      def build(s: org.apache.spark.sql.SparkSession) =
        FrameCache.getOrPersistLayout(s, key,
          FrameCache.Layout(partitionCols = Seq("cid"), sortCols = Seq("id"))) {
          s.range(100).toDF("id")
            .withColumn("cid", pmod(col("id"), lit(7)))
            .withColumn("v", col("id") * 2)
            .select(col("cid"), col("id"), col("v")) // cid FIRST on purpose
        }
      val first = build(s1)
      // hive layout on disk: one directory per cid value
      val p = new java.io.File(FrameCache.artifactPathFor(s1, dir, key))
      val parts = p.listFiles().map(_.getName).filter(_.startsWith("cid="))
      assert(parts.length === 7, s"expected 7 cid partitions: ${parts.toSeq}")
      // schema round-trips EXACTLY: hive inference alone would type cid
      // int and move it to the end
      assert(first.schema.fieldNames.toSeq === Seq("cid", "id", "v"))
      assert(first.schema("cid").dataType ===
        org.apache.spark.sql.types.LongType)
      assert(first.count() === 100)
      // raw prunable scan: a static filter on the partition column
      // reaches the scan as a PartitionFilter over pruned partitions
      val pruned = first.filter(col("cid") === 3L)
      assert(pruned.count() === 100 / 7 + (if (3 < 100 % 7) 1 else 0))
      val scan = pruned.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scan.isDefined, "partitioned artifact is not a file scan " +
        "(persisted InMemoryRelation would hide pruning)")
      assert(scan.get.partitionFilters.nonEmpty,
        s"no partition filter pushed: ${pruned.queryExecution.executedPlan}")
      // a fresh session loads (not rebuilds) with the same schema
      val s2 = spark.newSession(); s2.conf.set(FrameCache.IndexDirConf, dir)
      val (b0, _) = FrameCache.diskStats
      val second = build(s2)
      assert(second.schema === first.schema)
      assert(FrameCache.diskStats._1 === b0, "fresh session rebuilt a " +
        "partitioned artifact")
      FrameCache.evict(s2)
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("generation publish: each publish writes a new gated artifact, " +
      "the latest-pointer flips atomically, and a fresh session opens " +
      "the newest generation in place (zero builds, zero copies)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_gen").toString
    val key = "spec.generation.lists"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    try {
      val lay = FrameCache.Layout(partitionCols = Seq("cid"))
      val gen1 = s1.range(10).toDF("id")
        .withColumn("cid", pmod(col("id"), lit(3))).select("cid", "id")
      val p1 = FrameCache.publishGeneration(s1, dir, key, gen1, lay, "g1")
      assert(new java.io.File(s"$p1/_SUCCESS").exists())
      val got1 = FrameCache.openLatestGeneration(s1, dir, key)
      assert(got1.isDefined && got1.get.count() === 10)
      // maintenance publishes the next generation; the pointer flips
      val gen2 = s1.range(25).toDF("id")
        .withColumn("cid", pmod(col("id"), lit(3))).select("cid", "id")
      val p2 = FrameCache.publishGeneration(s1, dir, key, gen2, lay, "g2")
      assert(p2 != p1, "generation paths must not collide")
      // a fresh serve session opens the MAINTAINED generation: a pure
      // read — no build, no re-seed copy, schema intact
      val s2 = spark.newSession(); s2.conf.set(FrameCache.IndexDirConf, dir)
      val (b0, _) = FrameCache.diskStats
      val served = FrameCache.openLatestGeneration(s2, dir, key)
      assert(served.isDefined && served.get.count() === 25,
        "serve session did not open the newest generation")
      assert(served.get.schema.fieldNames.toSeq === Seq("cid", "id"))
      assert(FrameCache.diskStats._1 === b0)
      // both generations remain on disk (retention is the store's GC
      // job); the old one is still openable by path
      assert(FrameCache.openGeneration(s2, p1).get.count() === 10)
      FrameCache.evict(s2)
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("generation GC: keeps the pointed-at generation plus the newest " +
      "keep-1, deletes older ones and aged torn debris, spares a " +
      "possibly-live fresh unmarked publish") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_gc").toString
    val key = "spec.generation.gc"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    s1.conf.set(FrameCache.PublishGraceConf, "60000")
    try {
      val lay = FrameCache.Layout(partitionCols = Seq("cid"))
      def gen(n: Int) = s1.range(n).toDF("id")
        .withColumn("cid", pmod(col("id"), lit(2))).select("cid", "id")
      val p1 = FrameCache.publishGeneration(s1, dir, key, gen(5), lay, "g1")
      val p2 = FrameCache.publishGeneration(s1, dir, key, gen(10), lay, "g2")
      val p3 = FrameCache.publishGeneration(s1, dir, key, gen(15), lay, "g3")
      // mtime-order the generations explicitly (same-second publishes
      // on a 1s-granularity fs would otherwise tie)
      Seq(p1, p2, p3).zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(p),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 600000L + i * 1000L))
      }
      // plant torn debris (old unmarked) and a FRESH unmarked dir (a
      // possibly-live publisher inside the rename->marker window)
      val gensDir = new java.io.File(p1).getParentFile
      val torn = new java.io.File(gensDir, "gen-torn")
      assert(torn.mkdirs())
      java.nio.file.Files.setLastModifiedTime(torn.toPath,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 600000L))
      val live = new java.io.File(gensDir, "gen-live")
      assert(live.mkdirs()) // fresh mtime: inside the grace window
      val deleted = FrameCache.gcGenerations(s1, dir, key, keep = 2)
      assert(deleted.toSet === Set(p1, torn.getPath.toString),
        s"GC deleted the wrong set: $deleted")
      // the pointer still serves g3; g2 survives as rollback depth
      assert(FrameCache.openLatestGeneration(s1, dir, key).get.count() === 15)
      assert(FrameCache.openGeneration(s1, p2).get.count() === 10)
      assert(FrameCache.openGeneration(s1, p1).isEmpty, "g1 not collected")
      assert(live.exists(), "GC raced a possibly-live fresh publish")
      // keep=1 collapses to the serving generation only
      assert(FrameCache.gcGenerations(s1, dir, key, keep = 1)
        .toSet === Set(p2))
      assert(FrameCache.openLatestGeneration(s1, dir, key).get.count() === 15)
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("index dir: a query family produces identical results with and " +
      "without the persistent artifact store (knn_pq end-to-end)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_pq").toString
    val sIdx = spark.newSession()
    sIdx.conf.set(FrameCache.IndexDirConf, dir)
    try {
      def rows(s: org.apache.spark.sql.SparkSession) =
        SparkEntry.queries("knn_pq")(s, sf).collect()
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
            ((r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))).toMap
      val base = rows(spark)       // session-scoped path (default)
      val viaBuild = rows(sIdx)    // builds + writes codebook/codes
      assert(viaBuild == base, "artifact-backed run diverges from default")
      // a FRESH session loads the artifacts: zero new disk builds
      val sLoad = spark.newSession()
      sLoad.conf.set(FrameCache.IndexDirConf, dir)
      val (b0, _) = FrameCache.diskStats
      val viaLoad = rows(sLoad)
      val (b1, _) = FrameCache.diskStats
      assert(viaLoad == base, "loaded-artifact run diverges from default")
      assert(b1 === b0, "fresh session rebuilt staged artifacts " +
        "instead of loading them")
      FrameCache.evict(sLoad)
    } finally {
      FrameCache.evict(sIdx)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("delta generation publish: only touched partitions are written, " +
      "the manifest chain serves the full view, retention pins a kept " +
      "delta's base, and a severed base fails LOUDLY") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_delta").toString
    val key = "spec.generation.delta"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    s1.conf.set(FrameCache.PublishGraceConf, "60000")
    try {
      val lay = FrameCache.Layout(partitionCols = Seq("cid"))
      // base: 60 rows over 6 lists
      val baseDf = s1.range(60).toDF("id")
        .withColumn("cid", pmod(col("id"), lit(6))).select("cid", "id")
      val p1 = FrameCache.publishGeneration(s1, dir, key, baseDf, lay, "g1")
      // delta: lists 1 and 4 get an extra row each; publish holds ONLY
      // those partitions' full contents (base survivors + additions)
      val additions = {
        import s1.implicits._
        Seq((1L, 100L), (4L, 101L)).toDF("cid", "id")
      }
      val touchedView = baseDf.filter(col("cid").isin(1L, 4L))
        .unionByName(additions)
      val p2 = FrameCache.publishGeneration(s1, dir, key, touchedView, lay,
        "g2", delta = Some((p1, Seq("1", "4"))),
        expectedBase = Some(Some(p1)))
      // publish IO ∝ touched: the new generation directory holds
      // exactly the two touched partitions
      val gen2Parts = new java.io.File(p2).listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cid="))
      assert(gen2Parts.toSet === Set("cid=1", "cid=4"),
        s"delta generation wrote ${gen2Parts.toSeq}, not only touched")
      assert(new java.io.File(p2, "_GRAFT_MANIFEST").exists())
      // the chain read serves the FULL view: 60 base + 2 additions,
      // with touched partitions coming only from the delta generation
      val served = FrameCache.openLatestGeneration(s1, dir, key).get
      assert(served.count() === 62)
      assert(served.filter(col("id").isin(100L, 101L)).count() === 2)
      assert(served.filter(col("cid") === 2L).count() === 10) // via base
      assert(FrameCache.generationDepth(s1, p2) === 1)
      assert(FrameCache.generationPartitionValues(s1, p2) ===
        (0 to 5).map(_.toString).toSet)
      // retention with keep=1: the pointed-at delta PINS its base —
      // nothing is collected
      assert(FrameCache.gcGenerations(s1, dir, key, keep = 1) === Seq.empty,
        "retention collected a base a kept delta references")
      assert(FrameCache.openLatestGeneration(s1, dir, key).get.count() === 62)
      // a compacting FULL publish releases the chain: keep=1 now
      // collects both old generations
      val p3 = FrameCache.publishGeneration(s1, dir, key,
        served.localCheckpoint(), lay, "g3",
        expectedBase = Some(Some(p2)))
      assert(FrameCache.gcGenerations(s1, dir, key, keep = 1).toSet ===
        Set(p1, p2))
      assert(FrameCache.openLatestGeneration(s1, dir, key).get.count() === 62)
      // a severed chain is LOUD: a delta whose base is gone must refuse
      // to open, never silently serve only its touched partitions
      val p4 = FrameCache.publishGeneration(s1, dir, key, touchedView, lay,
        "g4", delta = Some((p3, Seq("1", "4"))))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p3))
      val e = intercept[IllegalStateException] {
        FrameCache.openGeneration(s1, p4).get.count()
      }
      assert(e.getMessage.contains("missing or torn base"))
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("generation pointer flip is a guarded CAS: a publisher whose base " +
      "was superseded mid-run fails loudly and leaves no half-published " +
      "generation behind") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_cas").toString
    val key = "spec.generation.cas"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    s1.conf.set(FrameCache.PublishGraceConf, "60000")
    try {
      val lay = FrameCache.Layout(partitionCols = Seq("cid"))
      def gen(n: Int) = s1.range(n).toDF("id")
        .withColumn("cid", pmod(col("id"), lit(2))).select("cid", "id")
      // both "maintenance runs" capture the same (absent) base pointer
      val captured = FrameCache.latestGenerationPath(s1, dir, key)
      assert(captured.isEmpty)
      // run A publishes first — CAS against the captured value succeeds
      val pA = FrameCache.publishGeneration(s1, dir, key, gen(5), lay, "a",
        expectedBase = Some(captured))
      // run B raced run A from the SAME captured base: its CAS must
      // fail loudly (accepting it would silently discard run A's delta)
      val e = intercept[IllegalStateException] {
        FrameCache.publishGeneration(s1, dir, key, gen(7), lay, "b",
          expectedBase = Some(captured))
      }
      assert(e.getMessage.contains("lost an update race"))
      // the loser's generation was cleaned up; the store still serves A
      val gensDir = new java.io.File(pA).getParentFile
      assert(gensDir.listFiles().count(_.isDirectory) === 1,
        s"loser left debris: ${gensDir.listFiles().map(_.getName).toSeq}")
      assert(FrameCache.openLatestGeneration(s1, dir, key).get.count() === 5)
      // run B retried from the NEW base: CAS against pA succeeds
      FrameCache.publishGeneration(s1, dir, key, gen(7), lay, "b2",
        expectedBase = Some(Some(pA)))
      assert(FrameCache.openLatestGeneration(s1, dir, key).get.count() === 7)
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("generation log: a planted store (full + delta chain + torn + " +
      "invalid debris) reports every entry's kind, depth, touched " +
      "count, base link, and serving flag exactly") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_log").toString
    val key = "spec.generation.log"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    try {
      val lay = FrameCache.Layout(partitionCols = Seq("cid"))
      def gen(n: Int) = s1.range(n).toDF("id")
        .withColumn("cid", pmod(col("id"), lit(2))).select("cid", "id")
      // seq 1: full (2 partitions); seq 2: delta over it touching cid=1;
      // seq 3: delta over THAT touching cid=0 (depth 2) — the serving one
      val p1 = FrameCache.publishGeneration(s1, dir, key, gen(6), lay, "g1")
      val p2 = FrameCache.publishGeneration(s1, dir, key,
        gen(6).filter(col("cid") === 1L), lay, "g2",
        delta = Some((p1, Seq("1"))))
      val p3 = FrameCache.publishGeneration(s1, dir, key,
        gen(6).filter(col("cid") === 0L), lay, "g3",
        delta = Some((p2, Seq("0"))))
      // debris: a torn (unmarked) publish and a marked-but-sidecar-less
      // foreign directory — the log must DESCRIBE both, not throw
      val gensDir = new java.io.File(p1).getParentFile
      assert(new java.io.File(gensDir, "gen-000008-torn").mkdirs())
      val bad = new java.io.File(gensDir, "gen-000009-bad")
      assert(bad.mkdirs())
      new java.io.FileOutputStream(new java.io.File(bad, "_SUCCESS")).close()
      val log = FrameCache.generationLog(s1, dir, key)
      assert(log.map(_.genSeq) === Seq(9L, 8L, 3L, 2L, 1L),
        s"log order/content: $log")
      val byName = log.map(e => e.genSeq -> e).toMap
      assert(byName(9L).kind === "invalid" && !byName(9L).serving)
      assert(byName(8L).kind === "torn" && !byName(8L).serving)
      assert(byName(3L).kind === "delta" && byName(3L).depth === 2 &&
        byName(3L).touched === 1 && byName(3L).baseSeq === Some(2L) &&
        byName(3L).partitions === 1 && byName(3L).serving,
        s"serving delta row wrong: ${byName(3L)}")
      assert(byName(2L).kind === "delta" && byName(2L).depth === 1 &&
        byName(2L).baseSeq === Some(1L) && !byName(2L).serving)
      assert(byName(1L).kind === "full" && byName(1L).depth === 0 &&
        byName(1L).touched === 0 && byName(1L).baseSeq.isEmpty &&
        byName(1L).partitions === 2 && !byName(1L).serving)
      // the chain the log describes still serves the full view
      assert(FrameCache.openGeneration(s1, p3).get.count() === 6)
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("partitioned write spreads a hot partition value over multiple " +
      "files (salted pre-write shuffle), with unchanged read-back") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_salt").toString
    val key = "spec.indexdir.hotlist"
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, dir)
    try {
      // cid 0 holds 400 of 430 rows — the hot inverted list; pre-salt,
      // repartition(cid) hashed all 400 rows into ONE writer task/file
      def build(s: org.apache.spark.sql.SparkSession) =
        FrameCache.getOrPersistLayout(s, key,
          FrameCache.Layout(partitionCols = Seq("cid"))) {
          s.range(430).toDF("id")
            .withColumn("cid", when(col("id") < 400, 0L)
              .otherwise(pmod(col("id"), lit(3)) + 1L))
            .withColumn("v", col("id") * 7)
            .select(col("cid"), col("id"), col("v"))
        }
      val first = build(s1)
      assert(first.count() === 430)
      val hotDir = new java.io.File(
        FrameCache.artifactPathFor(s1, dir, key), "cid=0")
      val hotFiles = hotDir.listFiles()
        .filter(f => f.getName.endsWith(".parquet") ||
          f.getName.startsWith("part-"))
      assert(hotFiles.length > 1,
        s"hot partition written as ${hotFiles.length} file(s) — the " +
          "salted shuffle did not split the hot list across writers")
      // read-back content and pruning are unaffected by the salt
      val ids = first.filter(col("cid") === 0L).select("id")
        .collect().map(_.getLong(0)).toSet
      assert(ids === (0L until 400L).toSet)
      FrameCache.evict(s1)
    } finally {
      FrameCache.evict(s1)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("store trust: a fresh default-shaped store is created owner-only " +
      "(0700), and a store owned by ANOTHER user is refused outright") {
    import java.nio.file.{Files, Paths}
    val parent = Files.createTempDirectory("graft_store_trust")
    val fresh = parent.resolve("store_new").toString
    val s1 = spark.newSession(); s1.conf.set(FrameCache.IndexDirConf, fresh)
    try {
      FrameCache.getOrPersist(s1, "spec.store.trust") {
        s1.range(3).toDF("id")
      }
      val perms = Files.getPosixFilePermissions(Paths.get(fresh))
      import java.nio.file.attribute.PosixFilePermission._
      assert(!perms.contains(GROUP_READ) && !perms.contains(GROUP_WRITE) &&
        !perms.contains(OTHERS_READ) && !perms.contains(OTHERS_WRITE) &&
        !perms.contains(GROUP_EXECUTE) && !perms.contains(OTHERS_EXECUTE),
        s"store created world/group-accessible: $perms")
      FrameCache.evict(s1)
      // squatting: a pre-created store owned by someone else must be
      // refused — the sidecar validates format, not provenance, so
      // ownership is the real defense. Requires a second user on the
      // box (the suite runs as root in CI, which can chown); skip the
      // half when none is resolvable.
      val foreign = parent.resolve("store_squat")
      Files.createDirectory(foreign)
      val lookup = foreign.getFileSystem.getUserPrincipalLookupService
      val other =
        try Some(lookup.lookupPrincipalByName("daemon"))
        catch { case _: Throwable => None }
      val chowned = other.exists { u =>
        try { Files.setOwner(foreign, u); true }
        catch { case _: Throwable => false }
      }
      if (chowned) {
        val s2 = spark.newSession()
        s2.conf.set(FrameCache.IndexDirConf, foreign.toString)
        val e = intercept[IllegalStateException] {
          FrameCache.getOrPersist(s2, "spec.store.squat") {
            s2.range(1).toDF("id")
          }
        }
        assert(e.getMessage.contains("owned by"),
          s"wrong refusal: ${e.getMessage}")
        FrameCache.evict(s2)
      }
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(parent.toFile)
  }

  test("warmConcurrently: a failing thunk interrupts the blocked one, " +
      "surfaces its own exception, and returns with every thunk stopped") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val started = new CountDownLatch(1)
    val interrupted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = new IllegalStateException("warm thunk failed")
    def blocker(): Unit = {
      started.countDown()
      try new CountDownLatch(1).await()
      catch {
        case _: InterruptedException =>
          interrupted.set(true)
          // a thunk that takes a while to unwind (a Spark job noticing
          // its cancellation): the caller must wait for it
          val until = System.nanoTime() + TimeUnit.MILLISECONDS.toNanos(300)
          while (System.nanoTime() < until) ()
      } finally stopped.set(true)
    }
    def failer(): Unit = {
      assert(started.await(30, TimeUnit.SECONDS))
      throw boom
    }
    val e = intercept[IllegalStateException](
      FrameCache.warmConcurrently(Seq(() => blocker(), () => failer()), par = 2))
    assert(e eq boom, s"expected the thunk's own exception, got $e")
    assert(interrupted.get, "the blocked thunk was never interrupted")
    assert(stopped.get, "warmConcurrently returned while a thunk still ran")
    assert(!Thread.currentThread().isInterrupted)
  }

  test("warmConcurrently: an interrupted caller cancels its thunks and " +
      "keeps its interrupt flag") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val started = new CountDownLatch(1)
    val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val outcome = new java.util.concurrent.atomic.AtomicReference[Any]()
    val caller = new Thread(() => {
      try FrameCache.warmConcurrently(Seq(() => {
        started.countDown()
        try new CountDownLatch(1).await() finally stopped.set(true)
      }), par = 2)
      catch {
        case e: InterruptedException =>
          outcome.set((e, Thread.currentThread().isInterrupted))
      }
    })
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive)
    outcome.get match {
      case (_: InterruptedException, flag: Boolean) =>
        assert(flag, "interrupt flag not restored")
      case other => fail(s"expected InterruptedException, got $other")
    }
    assert(stopped.get, "the blocked thunk was not cancelled")
  }

  test("warmConcurrently: the default pool is sized from the session's " +
      "configured cores") {
    // clamp to [2, 4] by cores/8
    assert(Seq(1, 4, 8, 16, 24, 32, 64).map(FrameCache.warmPoolSize(_)) ==
      Seq(2, 2, 2, 2, 3, 4, 4))
    // the default reads local[N] of the live session, not the box
    val n = FrameCache.warmPoolSize(spark.sparkContext.defaultParallelism)
    assert(FrameCache.warmPoolSize() == n)
    // a fixed pool starts one thread per submission up to its size, so
    // 4n thunks run on exactly n distinct threads
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    FrameCache.warmConcurrently(Seq.fill(4 * n)(() => {
      threads.add(Thread.currentThread().getName); ()
    }))
    assert(threads.size == n)
  }
}
