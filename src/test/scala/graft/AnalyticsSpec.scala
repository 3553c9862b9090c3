package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.get("4")
  val sf: String = "/root/testdata/sf0.001"

  /** The rows of the parquet file `src` that `keep` admits, as the bytes
    * of one parquet file written to the `scratch` dir: what an in-place
    * rewrite writes over a copy of `src`.
    */
  def filteredParquet(src: String, keep: Column, scratch: String): Array[Byte] = {
    spark.read.parquet(src).filter(keep).coalesce(1).write.parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.readAllBytes(part.toPath)
  }

  /** `df` split into `n` consecutive chunks of its `order`, with the
    * membership `ntile(n).over(Window.orderBy(order))` gives — the
    * first N mod n chunks hold one extra row — but numbered by a
    * global sort plus `zipWithIndex`, not an unpartitioned window, so
    * a single-partition window in operator code stands out in the log.
    */
  def ntileChunks(df: DataFrame, n: Int, order: Seq[Column]): Seq[DataFrame] = {
    val sorted = df.orderBy(order: _*)
    val total = sorted.count()
    val (base, extra) = (total / n, total % n)
    val big = extra * (base + 1) // rows in the first `extra` chunks
    def chunk(i: Long): Int =
      (if (i < big) i / (base + 1) else extra + (i - big) / base).toInt + 1
    val numbered = df.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ chunk(i)) },
      sorted.schema.add("q", IntegerType, nullable = false))
    val sizes = numbered.groupBy("q").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = (1 to n).map(q => q -> (base + (if (q <= extra) 1 else 0)))
      .filter(_._2 > 0).toMap
    assert(sizes == want, s"chunk sizes $sizes differ from ntile's $want")
    (1 to n).map(q => numbered.filter(col("q") === q).drop("q"))
  }
}

class AnalyticsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q1_pricing_summary: 6 groups, exact sums") {
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 9)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total > 0 && total <= 6000)
    // sum_disc_price <= sum_base_price (discount in [0, 0.1])
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price"))
    }
  }

  test("q6_revenue_delta: single positive revenue row") {
    val rows = SparkEntry.queries("q6_revenue_delta")(spark, sf).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("revenue") > 0)
  }

  test("events_asof_join: click strictly precedes its purchase") {
    val rows = SparkEntry.queries("events_asof_join")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getAs[Long]("gap_us") > 0,
        s"click must be strictly before purchase: $r")
    }
  }

  test("events_hourly_anomalies: only |z| >= 2 rows, finite scores") {
    val rows = SparkEntry.queries("events_hourly_anomalies")(spark, sf).collect()
    rows.foreach { r =>
      val z = r.getAs[Double]("zscore")
      assert(!z.isNaN && !z.isInfinite && math.abs(z) >= 2, s"bad z: $r")
    }
  }

  test("corpus_stratified_sample is a subset with plausible rate") {
    val n = Tables.documents(spark, sf).count()
    val k = SparkEntry.queries("corpus_stratified_sample")(spark, sf).count()
    assert(k > 0 && k < n)
  }

  test("every query has distinct name; every oracle key exists in queries") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
  }

  test("events_stickiness equals a driver-side trailing-window replay") {
    import org.apache.spark.sql.functions._
    val du = Tables.events(spark, sf)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct().collect()
      .map(r => r.getAs[java.sql.Timestamp]("day").getTime -> r.getAs[Long]("user_id"))
    val dayMs = 24L * 3600 * 1000
    val byDay = du.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = SparkEntry.queries("events_stickiness")(spark, sf).collect()
    assert(got.length == byDay.size)
    got.foreach { r =>
      val day = r.getAs[java.sql.Timestamp]("day").getTime
      val expectedDau = byDay(day).size
      val expectedTau = (0 to 27).flatMap(i =>
        byDay.getOrElse(day - i * dayMs, Set.empty[Long])).toSet.size
      assert(r.getAs[Long]("dau") == expectedDau, s"dau at $day")
      assert(r.getAs[Long]("tau28") == expectedTau, s"tau28 at $day")
      assert(math.abs(r.getAs[Double]("stickiness")
        - expectedDau.toDouble / expectedTau) < 1e-12)
      assert(r.getAs[Long]("tau28") >= r.getAs[Long]("dau"))
    }
  }

  test("events_cohort_matrix: offset-0 rate is 1, cells bounded by cohort size") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("events_cohort_matrix")(spark, sf).collect()
    assert(rows.nonEmpty)
    val size0 = rows.filter(_.getAs[Long]("week_offset") == 0L)
      .map(r => r.getAs[java.sql.Timestamp]("cohort") -> r.getAs[Long]("n_users"))
      .toMap
    // every cohort has an offset-0 cell and its rate is exactly 1.0
    val cohorts = rows.map(_.getAs[java.sql.Timestamp]("cohort")).distinct
    assert(size0.keySet == cohorts.toSet)
    rows.foreach { r =>
      val c = r.getAs[java.sql.Timestamp]("cohort")
      val off = r.getAs[Long]("week_offset")
      val n = r.getAs[Long]("n_users")
      assert(off >= 0 && n > 0 && n <= size0(c), s"cell out of bounds: $r")
      if (off == 0) assert(r.getAs[Double]("retention_rate") == 1.0)
      else assert(r.getAs[Double]("retention_rate") == n.toDouble / size0(c))
    }
    // offset-0 cohort sizes partition the distinct-user universe
    val users = Tables.events(spark, sf).select(countDistinct(col("user_id")))
      .collect()(0).getLong(0)
    assert(size0.values.sum == users)
  }

  test("events_value_percentiles: distributed rank equals the single-window reference") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // reference: the round-8 one-window-task-per-type formulation — the
    // semantics the distributed two-pass rank must reproduce exactly
    val w = Window.partitionBy(col("event_type"))
    val ref = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(
        w.orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rn") === expr("(n + 1) div 2"), col("value"))).as("p50"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("value"))).as("p90"),
        max(when(col("rn") === expr("(99 * n + 99) div 100"), col("value"))).as("p99"),
        max(col("n")).as("n_events"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val df = SparkEntry.queries("events_value_percentiles")(spark, sf)
    val got = df.collect().map(r => r.getString(0) ->
      (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got == ref)
    // plan shape: the scale contract is a RANGE partition of the event
    // scan (each sort task owns 1/P of a type), not one hash partition
    // per type. The query consumes it through a lineage-cut checkpoint
    // (single materialization by construction), so the range exchange
    // is asserted on the pass-1 seam and the checkpoint scan on the
    // query plan itself.
    val partedPlan = graft.queries.Analytics.percentileParted(spark, sf)
      .queryExecution.executedPlan.toString
    assert(partedPlan.toLowerCase.contains("rangepartitioning"),
      "expected a range-partition exchange in the percentile pass-1 plan")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD") || plan.contains("LogicalRDD"),
      "expected the query to read the checkpointed pass-1 frame")
    // the event-scale (type, value, event_id) range shuffle must not
    // re-run inside the query — the presentation ORDER BY event_type
    // is also a (tiny, single-key) range partitioning, so match the
    // multi-key form specifically
    assert(!"(?i)rangepartitioning\\([^)]*value".r.findFirstIn(plan).isDefined,
      "the event-scale range shuffle must not re-run inside the query")
  }

  test("events_value_percentiles_sketch: GK rank error within contract vs exact") {
    import org.apache.spark.sql.functions._
    val eps = 1.0 / graft.queries.Analytics.SketchAccuracy
    val exact = SparkEntry.queries("events_value_percentiles")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val sketch = SparkEntry.queries("events_value_percentiles_sketch")(spark, sf)
      .collect()
    assert(sketch.map(_.getString(0)).toSet == exact.keySet)
    // per type: each sketched pXX must sit within the GK rank band
    // rank(v) ∈ [⌈p·n⌉ − εn − 1, ⌈p·n⌉ + εn + 1] in the exact order
    val vals = Tables.events(spark, sf)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getDouble(1)).sorted }
    sketch.foreach { r =>
      val t = r.getString(0)
      val sorted = vals(t)
      val n = exact(t)
      assert(r.getLong(4) == n, s"$t: n_events mismatch")
      Seq(0.5 -> r.getDouble(1), 0.9 -> r.getDouble(2),
          0.99 -> r.getDouble(3)).foreach { case (p, v) =>
        val lo = sorted.count(_ < v) + 1   // lowest rank v could hold
        val hi = sorted.count(_ <= v)      // highest rank v could hold
        val target = math.ceil(p * n)
        val band = eps * n + 1
        assert(lo <= target + band && hi >= target - band,
          s"$t p$p: value $v ranks [$lo,$hi], target $target ± $band")
      }
    }
  }

  test("text_tfidf: top-3 per doc, score is tf*N/df descending") {
    val nDocs = Tables.documents(spark, sf).count()
    val rows = SparkEntry.queries("text_tfidf")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val byRk = rs.sortBy(_.getAs[Int]("rk"))
      assert(byRk.map(_.getAs[Int]("rk")).toSeq == (1 to byRk.length))
      assert(byRk.length <= 3)
      byRk.foreach { r =>
        val expect = r.getAs[Long]("tf").toDouble * nDocs / r.getAs[Long]("df")
        assert(r.getAs[Double]("score") == expect, s"score mismatch: $r")
      }
      // rank order is non-increasing in score
      byRk.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("score") >= b.getAs[Double]("score"))
        case _ =>
      }
    }
  }

  test("events_heavy_hitters: MG guarantees vs exact counts") {
    import org.apache.spark.sql.functions._
    val k = 8
    val rows = SparkEntry.queries("events_heavy_hitters")(spark, sf).collect()
    val exact = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = exact(r.getAs[String]("event_type"))
      val est = r.getAs[Long]("est_count")
      assert(r.getAs[Long]("n_total") == n)
      assert(r.getAs[Long]("max_underestimate") == n / k)
      assert(est <= t, "MG estimates never overestimate")
      assert(t - est <= n / k, "underestimate bounded by n/k")
      assert(t > n / k, "every returned key is truly frequent")
    }
    // completeness: every key with true count > 2n/k must be returned
    val got = rows.map(_.getAs[String]("event_type")).toSet
    exact.filter(_._2 > 2L * n / k).keys.foreach(key =>
      assert(got(key), s"guaranteed heavy hitter missing: $key"))
  }

  test("misra_gries finds a planted hot key across many partitions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 5000 rows over 64 partitions: one key holds 30%, 997 cold keys
    val hot = Seq.fill(1500)("hot")
    val cold = (0 until 3500).map(i => s"cold${i % 997}")
    val df = spark.createDataset(hot ++ cold).repartition(64).toDF("key")
    val out = df.agg(graft.functions.MisraGriesAgg.misra_gries(col("key"), 16).as("mg"))
      .select(explode(col("mg")).as("e"))
      .select(col("e.item"), col("e.est"), col("e.n")).collect()
    val byItem = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.head.getLong(2) == 5000L)
    assert(byItem.contains("hot"), s"planted 30% key missing: $byItem")
    assert(byItem("hot") <= 1500L && 1500L - byItem("hot") <= 5000L / 16)
  }

  test("count_min SQL aggregate: planted hot key never undercounted across partitions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 5000 rows over 64 partitions: key 7 holds 30%, 199 cold keys
    val hot = Seq.fill(1500)(7L)
    val cold = (0 until 3500).map(i => 100L + i % 199)
    // SQL-registration coverage lives in MultimodalSpec's
    // GraftExtensions test; this exercises the distributed merge path
    val cm = spark.createDataset(hot ++ cold).repartition(64).toDF("key")
      .agg(graft.functions.CountMinAgg.count_min(col("key"), 4, 256).as("cm"))
      .collect().head.getSeq[Long](0)
    assert(cm.length == 4 * 256)
    assert(cm.sum == 4L * 5000L, "each row increments one counter per depth")
    val est = (0 until 4).map(d =>
      cm(d * 256 + graft.functions.CountMinAgg.bucket(7L, d, 256))).min
    assert(est >= 1500L, s"CMS undercounted the planted key: $est")
    assert(est <= 5000L)
  }

  test("events_transitions: rows = events - users, per-from probs sum to 1") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("events_transitions")(spark, sf).collect()
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    // every event except each user's first contributes one transition
    assert(rows.map(_.getAs[Long]("n_transitions")).sum == nEvents - nUsers)
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (f, g) =>
      val p = g.map(_.getAs[Double]("p")).sum
      assert(math.abs(p - 1.0) < 1e-9, s"P(.|$f) sums to $p")
    }
  }

  test("events_attribution: touches are non-purchase, conversions bounded") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("events_attribution")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nPurchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(rows.forall(_.getAs[String]("touch_type") != "purchase"))
    assert(rows.map(_.getAs[Long]("n_conversions")).sum <= nPurchases)
    rows.foreach(r => assert(r.getAs[Double]("attributed_value") >= 0))
  }

  test("events_pivot: cells partition the event count") {
    val rows = SparkEntry.queries("events_pivot")(spark, sf).collect()
    assert(rows.length <= 24)
    val total = rows.map(r =>
      graft.queries.Analytics.EventTypes.map(c => r.getAs[Long](c)).sum).sum
    assert(total == Tables.events(spark, sf).count())
  }

  test("events_user_sample: KMV estimator from the bottom-64 within 25% of exact") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("events_user_sample")(spark, sf).collect()
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("nd")).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("nd")).toMap
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (et, g) =>
      val sorted = g.sortBy(_.getAs[Long]("rk"))
      // ranks dense from 1; hashes ascending (the order statistic)
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length))
      val hashes = sorted.map(_.getAs[String]("user_hash"))
      assert(hashes.zip(hashes.tail).forall { case (a, b) => a <= b })
      val k = sorted.length
      if (exact(et) <= 64) assert(k == exact(et).toInt) // small group: exact
      else {
        assert(k == 64)
        // KMV: distinct ~ (k-1)/R, R = kth smallest hash as a fraction
        val r = java.lang.Long.parseLong(hashes.last.take(8), 16)
          .toDouble / (1L << 32).toDouble
        val est = (k - 1).toDouble / r
        val rel = math.abs(est - exact(et)) / exact(et)
        assert(rel < 0.25, s"$et: est=$est exact=${exact(et)} rel=$rel")
      }
    }
  }

  test("events_unpivot round-trips the pivot: long form = wide cells") {
    val long = SparkEntry.queries("events_unpivot")(spark, sf).collect()
      .map(r => (r.getAs[Long]("hour_of_day"), r.getAs[String]("event_type")) ->
        r.getAs[Long]("n_events")).toMap
    val wide = SparkEntry.queries("events_pivot")(spark, sf).collect()
    assert(long.size == wide.length * graft.queries.Analytics.EventTypes.size)
    wide.foreach { r =>
      val h = r.getAs[Long]("hour_of_day")
      graft.queries.Analytics.EventTypes.foreach { et =>
        assert(long((h, et)) == r.getAs[Long](et), s"cell ($h, $et)")
      }
    }
  }

  test("events_sliding_window: every event owned by exactly 3 windows") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("events_sliding_window")(spark, sf)
    val counted = out.agg(sum(col("n_events"))).collect()(0).getLong(0)
    assert(counted == 3 * Tables.events(spark, sf).count())
    // spot-check one window against a direct range filter
    val r0 = out.limit(1).collect()(0)
    val ws = r0.getAs[java.sql.Timestamp]("win_start")
    val et = r0.getAs[String]("event_type")
    val direct = Tables.events(spark, sf)
      .filter(col("event_type") === et &&
        col("ts") >= lit(ws) && col("ts") < lit(ws) + expr("INTERVAL 3 HOURS"))
      .count()
    assert(direct == r0.getAs[Long]("n_events"), s"window $ws/$et")
  }

  test("events_rfm buckets are in 1..5 and monotone in the raw metric") {
    val rows = SparkEntry.queries("events_rfm")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("r_bucket", "f_bucket", "m_bucket").foreach { b =>
        val v = r.getAs[Long](b); assert(v >= 1 && v <= 5, s"$b=$v")
      }
    }
    // same freq -> same bucket; higher freq -> bucket never decreases
    val byFreq = rows.map(r => (r.getAs[Long]("freq"), r.getAs[Long]("f_bucket")))
      .sortBy(_._1)
    byFreq.sliding(2).foreach { case Array((f1, b1), (f2, b2)) =>
      assert(b2 >= b1, s"f_bucket not monotone: ($f1,$b1) -> ($f2,$b2)")
      if (f1 == f2) assert(b1 == b2, "metric ties must share a bucket")
    }
  }

  test("events_pagerank conserves (up to floor/dangling leak) and covers all types") {
    val rows = SparkEntry.queries("events_pagerank")(spark, sf).collect()
    val nTypes = Tables.events(spark, sf).select("event_type").distinct().count()
    assert(rows.length == nTypes)
    val total = rows.map(_.getAs[Long]("rank_scaled")).sum
    val S = 1000000000000L
    // floor division + dangling nodes only ever LOSE mass
    assert(total <= S && total >= (S * 8) / 10, s"total=$total")
    rows.foreach(r => assert(r.getAs[Long]("rank_scaled") > 0))
  }

  test("q2_min_cost_supplier: every row achieves its part's true minimum cost") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q2_min_cost_supplier")(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent recomputation of the per-(part, supplier) min unit cost
    val best = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val pk = r.getAs[Long]("p_partkey")
      // the reported cost can't beat the all-supplier min, and must be
      // the min among the rows the query scoped to (EUROPE suppliers)
      assert(r.getAs[Double]("unit_cost") >= best(pk))
    }
  }

  test("q12_ship_delay buckets partition the year's lines") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q12_ship_delay")(spark, sf).collect()
    val bucketTotal = rows.map(r =>
      r.getAs[Long]("high_line_count") + r.getAs[Long]("low_line_count")).sum
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(bucketTotal == expected,
      s"buckets must partition the joined lines: $bucketTotal vs $expected")
  }

  test("q21_waiting_suppliers: no blamed supplier shares an order with another late one") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q21_waiting_suppliers")(spark, sf).collect()
    // sf0.001 may or may not produce waiters; the invariant below only
    // fires when it does
    val late = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf)
        .filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '60' DAY"))
      .select(col("l_orderkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = late.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    // total blame count = late lines on orders where exactly one
    // supplier was late (and the order had >1 supplier overall)
    val multiSupp = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("ns"))
      .filter(col("ns") > 1).collect().map(_.getLong(0)).toSet
    // per-supplier blame, then the query's own deterministic cut
    // (numwait DESC, s_name ASC, LIMIT 100) — comparing ordered rows,
    // not an unlimited total, so the assertion survives test-scale
    // data with more than 100 waiting suppliers
    val blamed = late.filter { case (ok, _) =>
      multiSupp.contains(ok) && byOrder(ok).length == 1
    }
    val suppName = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = blamed.groupBy(p => suppName(p._2)).view
      .mapValues(_.length.toLong).toSeq
      .sortBy { case (name, c) => (-c, name) }.take(100)
    val got = rows.map(r =>
      (r.getAs[String]("s_name"), r.getAs[Long]("numwait"))).toSeq
    assert(got == expected)
  }

  test("events_cooccurrence equals a driver-side set replay") {
    import org.apache.spark.sql.functions._
    val ut = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id")).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byType = ut.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val total = ut.map(_._2).distinct.length.toLong
    val types = byType.keys.toSeq.sorted
    val expected = (for {
      a <- types; b <- types if a < b
      both = (byType(a) & byType(b)).size.toLong if both > 0
    } yield (a, b) -> ((both, byType(a).size.toLong, byType(b).size.toLong,
      both.toDouble / (byType(a).size + byType(b).size - both),
      (both * total).toDouble / (byType(a).size.toLong * byType(b).size)))).toMap
    val got = SparkEntry.queries("events_cooccurrence")(spark, sf).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("n_both"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("jaccard"), r.getAs[Double]("lift")))).toMap
    assert(got == expected, s"co-occurrence diverges: ${got.size} vs ${expected.size}")
  }

  test("events_mad_anomalies: flags exactly the > 4 MAD hours, robust to spikes") {
    import org.apache.spark.sql.functions._
    val hourly = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    def medianD(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      val idx = 0.5 * (n - 1); val lo = s(idx.toInt)
      if (idx == idx.floor) lo else lo + (s(idx.toInt + 1) - lo) * (idx - idx.floor)
    }
    val expected = hourly.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val med = medianD(rows.map(_._3.toDouble).toSeq)
      val mad = medianD(rows.map(r => math.abs(r._3.toDouble - med)).toSeq)
      val floor = math.max(mad, 0.5)
      rows.filter(r => math.abs(r._3.toDouble - med) > 4 * floor)
        .map(r => (t, r._2) -> ((r._3, med, mad, (r._3.toDouble - med) / floor)))
    }.toMap
    val got = SparkEntry.queries("events_mad_anomalies")(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Timestamp]("hour")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("med"),
          r.getAs[Double]("mad"), r.getAs[Double]("score")))).toMap
    assert(got == expected, s"MAD anomaly rows diverge: ${got.size} vs ${expected.size}")
  }

  test("orders_backlog equals a driver-side open/close fold") {
    import org.apache.spark.sql.functions._
    // timestamp_ntz columns collect as LocalDateTime; tz ones as Timestamp
    def month(v: Any): (Int, Int) = v match {
      case t: java.sql.Timestamp =>
        val ld = t.toLocalDateTime; (ld.getYear, ld.getMonthValue)
      case ld: java.time.LocalDateTime => (ld.getYear, ld.getMonthValue)
    }
    val lastShip = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("ms"))
      .collect().map(r => r.getLong(0) -> month(r.get(1))).toMap
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate")).collect()
      .map(r => (r.getLong(0), month(r.get(1))))
    val got = SparkEntry.queries("orders_backlog")(spark, sf).collect()
      .map(r => month(r.get(r.fieldIndex("month"))) ->
        ((r.getAs[Long]("n_opened"), r.getAs[Long]("n_closed"),
          r.getAs[Long]("backlog"))))
    // axis is dense and ordered
    assert(got.map(_._1).toSeq.sliding(2).forall {
      case Seq((y1, m1), (y2, m2)) => y2 * 12 + m2 == y1 * 12 + m1 + 1
      case _ => true
    }, "month axis not dense")
    // totals and running identity
    assert(got.map(_._2._1).sum == orders.length.toLong)
    assert(got.map(_._2._2).sum == orders.count(o => lastShip.contains(o._1)).toLong)
    var running = 0L
    got.foreach { case (m, (op, cl, bl)) =>
      val expOp = orders.count(_._2 == m).toLong
      val expCl = orders.count(o => lastShip.get(o._1).contains(m)).toLong
      assert(op == expOp && cl == expCl, s"month $m opened/closed diverge")
      running += op - cl
      assert(bl == running, s"month $m backlog $bl != running $running")
      assert(bl >= 0, s"month $m negative backlog")
    }
  }

  test("events_mix_drift equals a driver-side exact-TVD replay") {
    import org.apache.spark.sql.functions._
    val c = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val m = c.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val mm = m.values.sum
    val expected = c.groupBy(_._1).map { case (day, rows) =>
      val nd = rows.map(_._3).sum
      // BigInt replay of the DECIMAL(38,0) numerator
      val sp = rows.map(r => (BigInt(r._3) * mm - BigInt(m(r._2)) * nd).abs).sum
      val mp = rows.map(r => m(r._2)).sum
      val tvd = (BigDecimal(sp + BigInt(mm - mp) * nd)
        / BigDecimal(BigInt(2) * nd * mm)).toDouble
      day -> ((nd, rows.length.toLong, tvd))
    }
    val got = SparkEntry.queries("events_mix_drift")(spark, sf).collect()
      .map(r => r.getAs[java.sql.Timestamp]("day") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_types"),
          r.getAs[Double]("tvd")))).toMap
    // the one float op is the final divide; the BigDecimal replay can
    // differ in the last ulp from double/double division, so compare
    // tvd to 1e-12 and the integer fields exactly
    assert(got.keySet == expected.keySet)
    got.foreach { case (day, (nd, nt, tvd)) =>
      val (end, ent, etvd) = expected(day)
      assert(nd == end && nt == ent, s"day $day integer fields diverge")
      assert(math.abs(tvd - etvd) < 1e-12, s"day $day tvd $tvd vs $etvd")
      assert(tvd >= 0.0 && tvd <= 1.0, s"day $day tvd out of range")
    }
  }

  test("events_session_bounce: rollup consistent with events_sessionize") {
    // B10's oracled session table is the ground truth for counts/depths;
    // B57 must roll up to the same session population
    val sessions = SparkEntry.queries("events_sessionize")(spark, sf).collect()
      .map(r => r.getAs[Long]("n_events"))
    val got = SparkEntry.queries("events_session_bounce")(spark, sf).collect()
    val nSessions = got.map(_.getAs[Long]("n_sessions")).sum
    val nBounces = got.map(_.getAs[Long]("n_bounces")).sum
    val nEvents = got.map(_.getAs[Long]("n_events")).sum
    assert(nSessions == sessions.length, "session count diverges from B10")
    assert(nBounces == sessions.count(_ == 1L), "bounce count diverges from B10")
    assert(nEvents == sessions.sum, "event mass diverges from B10")
    got.foreach { r =>
      assert(r.getAs[Double]("bounce_rate") ==
        r.getAs[Long]("n_bounces").toDouble / r.getAs[Long]("n_sessions"))
      assert(r.getAs[Double]("avg_depth") ==
        r.getAs[Long]("n_events").toDouble / r.getAs[Long]("n_sessions"))
    }
  }

  test("customer_cohort_ltv equals a driver-side cohort fold") {
    def month(d: java.time.LocalDateTime): (Int, Int) =
      (d.getYear, d.getMonthValue)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_custkey", "o_orderdate", "o_totalprice").collect()
      .map(r => (r.getAs[Long]("o_custkey"),
        month(r.getAs[java.time.LocalDateTime]("o_orderdate")),
        BigDecimal(r.getAs[Double]("o_totalprice"))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val cohort = orders.groupBy(_._1).map { case (k, os) =>
      k -> os.map(_._2).min
    }
    def off(c: (Int, Int), m: (Int, Int)): Long =
      (m._1 - c._1) * 12L + (m._2 - c._2)
    val expect = orders
      .groupBy(o => (cohort(o._1), off(cohort(o._1), o._2)))
      .map { case (k, os) =>
        k -> ((os.map(_._1).distinct.length.toLong, os.length.toLong,
          os.map(_._3).sum))
      }
    val got = SparkEntry.queries("customer_cohort_ltv")(spark, sf).collect()
    assert(got.length == expect.size)
    got.foreach { r =>
      val k = (month(r.getAs[java.sql.Timestamp]("cohort").toLocalDateTime),
        r.getAs[Long]("month_offset"))
      val (na, no, rev) = expect(k)
      assert(r.getAs[Long]("n_active") == na, s"n_active at $k")
      assert(r.getAs[Long]("n_orders") == no, s"n_orders at $k")
      assert(r.getAs[Double]("revenue") == rev.toDouble, s"revenue at $k")
    }
    // offset-0 diagonal exists for every cohort and holds its full size
    val byCohort = got.groupBy(_.getAs[java.sql.Timestamp]("cohort"))
    byCohort.foreach { case (c, rs) =>
      assert(rs.exists(_.getAs[Long]("month_offset") == 0L),
        s"cohort $c missing its own acquisition month")
    }
  }

  test("customer_order_gaps equals a driver-side gap fold") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_custkey", "o_orderdate", "o_orderkey").collect()
      .map(r => (r.getAs[Long]("o_custkey"),
        r.getAs[java.time.LocalDateTime]("o_orderdate").toLocalDate.toEpochDay,
        r.getAs[Long]("o_orderkey")))
    val expect = orders.groupBy(_._1).collect {
      case (k, os) if os.length >= 2 =>
        val days = os.sortBy(o => (o._2, o._3)).map(_._2)
        val gaps = days.sliding(2).map(w => w(1) - w(0)).toSeq
        k -> ((os.length.toLong, gaps.min, gaps.max,
          gaps.sum.toDouble / gaps.length))
    }
    val got = SparkEntry.queries("customer_order_gaps")(spark, sf).collect()
    assert(got.length == expect.size && got.nonEmpty)
    got.foreach { r =>
      val k = r.getAs[Long]("o_custkey")
      val (no, mn, mx, mean) = expect(k)
      assert(r.getAs[Long]("n_orders") == no, s"n_orders for $k")
      assert(r.getAs[Long]("min_gap_days") == mn, s"min gap for $k")
      assert(r.getAs[Long]("max_gap_days") == mx, s"max gap for $k")
      assert(r.getAs[Double]("mean_gap_days") == mean, s"mean gap for $k")
    }
  }

  /** Spark `percentile` interpolation replay: lower + (upper-lower)*frac
    * at rank (n-1)*p over the sorted values.
    */
  private def pct(sorted: Seq[Long], p: Double): Double = {
    val pos = (sorted.length - 1) * p
    val lo = pos.toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  test("events_funnel_latency equals a driver-side min-after chain replay") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("us")))
    val byUser = ev.groupBy(_._1)
    def stage(prev: Map[Long, Long], tpe: String): Map[Long, Long] =
      byUser.flatMap { case (u, es) =>
        prev.get(u).flatMap { t0 =>
          val after = es.filter(e => e._2 == tpe && e._3 > t0)
          if (after.isEmpty) None else Some(u -> after.map(_._3).min)
        }
      }.toMap
    val su = byUser.collect { case (u, es) if es.exists(_._2 == "signup") =>
      u -> es.filter(_._2 == "signup").map(_._3).min }.toMap
    val cl = stage(su, "click")
    val pu = stage(cl, "purchase")
    val expect = Map(
      "signup_to_click" -> cl.map { case (u, t) => t - su(u) }.toSeq,
      "click_to_purchase" -> pu.map { case (u, t) => t - cl(u) }.toSeq)
    val got = SparkEntry.queries("events_funnel_latency")(spark, sf).collect()
    assert(got.length == expect.count(_._2.nonEmpty))
    got.foreach { r =>
      val lats = expect(r.getAs[String]("stage")).sorted
      assert(r.getAs[Long]("n_conversions") == lats.length)
      assert(r.getAs[Long]("min_us") == lats.min)
      assert(r.getAs[Long]("max_us") == lats.max)
      assert(r.getAs[Double]("mean_us") == lats.sum.toDouble / lats.length)
      assert(math.abs(r.getAs[Double]("p50_us") - pct(lats, 0.5)) <= 1e-6)
      assert(math.abs(r.getAs[Double]("p90_us") - pct(lats, 0.9)) <= 1e-6)
    }
  }

  test("events_seasonal_anomalies equals a driver-side dense-grid z replay") {
    import org.apache.spark.sql.functions.{col, date_trunc, hour, unix_micros}
    val cells = Tables.events(spark, sf)
      .select(col("event_type"),
        unix_micros(date_trunc("day", col("ts"))).as("day"),
        hour(col("ts")).as("hod"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day"),
        r.getAs[Int]("hod")))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val days = cells.keys.map(_._2).toSeq.distinct
    val types = cells.keys.map(_._1).toSeq.distinct
    val expect = scala.collection.mutable.Map
      .empty[(String, Long, Int), (Long, Double)]
    for (t <- types; h <- 0 until 24) {
      val xs = days.map(dy => cells.getOrElse((t, dy, h), 0L))
      val d = xs.length
      val s = xs.sum
      val sq = xs.map(x => BigInt(x) * BigInt(x)).sum
      val mean = s.toDouble / d
      val variance = sq.toDouble / d - mean * mean
      if (variance > 0) for (dy <- days) {
        val n = cells.getOrElse((t, dy, h), 0L)
        val z = (n.toDouble - mean) / math.sqrt(variance)
        if (math.abs(z) >= 2) expect((t, dy, h)) = (n, z)
      }
    }
    val got = SparkEntry.queries("events_seasonal_anomalies")(spark, sf)
      .withColumn("day", unix_micros(col("day"))).collect()
    assert(got.length == expect.size && got.nonEmpty)
    got.foreach { r =>
      val k = (r.getAs[String]("event_type"), r.getAs[Long]("day"),
        r.getAs[Int]("hod"))
      val (n, z) = expect(k)
      assert(r.getAs[Long]("n_events") == n, s"count for $k")
      assert(math.abs(r.getAs[Double]("zscore") - z) <= 1e-9, s"z for $k")
    }
  }

  test("events_autocorr equals a driver-side dense-series Pearson replay") {
    import org.apache.spark.sql.functions.{col, date_trunc, unix_micros}
    val hourly = Tables.events(spark, sf)
      .select(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour")))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val hours = hourly.keys.map(_._2)
    val axis = (hours.min to hours.max by 3600000000L).toSeq
    val expect = hourly.keys.map(_._1).toSeq.distinct.map { t =>
      val xs = axis.map(h => hourly.getOrElse((t, h), 0L))
      val pairs = xs.drop(24).zip(xs.dropRight(24)) // (x_t, x_{t-24})
      val np = BigInt(pairs.length)
      val sx = pairs.map(p => BigInt(p._1)).sum
      val sy = pairs.map(p => BigInt(p._2)).sum
      val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
      val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
      val syy = pairs.map(p => BigInt(p._2) * p._2).sum
      val denx = np * sxx - sx * sx
      val deny = np * syy - sy * sy
      val r = if (denx > 0 && deny > 0)
        Some((np * sxy - sx * sy).toDouble
          / (math.sqrt(denx.toDouble) * math.sqrt(deny.toDouble)))
      else None
      t -> ((pairs.length.toLong, r))
    }.toMap
    val got = SparkEntry.queries("events_autocorr")(spark, sf).collect()
    assert(got.length == expect.size && got.nonEmpty)
    got.foreach { r =>
      val (np, rr) = expect(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_pairs") == np)
      rr match {
        case Some(v) =>
          assert(math.abs(r.getAs[Double]("r_lag24") - v) <= 1e-12)
          assert(math.abs(v) <= 1.0 + 1e-12)
        case None => assert(r.isNullAt(r.fieldIndex("r_lag24")))
      }
    }
  }

  test("supplier_lead_time equals a driver-side join-and-fold replay") {
    val orderDate = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderdate").collect()
      .map(r => r.getAs[Long]("o_orderkey") ->
        r.getAs[java.time.LocalDateTime]("o_orderdate").toLocalDate.toEpochDay)
      .toMap
    val leads = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_suppkey", "l_shipdate").collect()
      .map(r => (r.getAs[Long]("l_suppkey"),
        r.getAs[java.time.LocalDateTime]("l_shipdate").toLocalDate.toEpochDay
          - orderDate(r.getAs[Long]("l_orderkey"))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val got = SparkEntry.queries("supplier_lead_time")(spark, sf).collect()
    assert(got.length == leads.size && got.nonEmpty)
    got.foreach { r =>
      val ls = leads(r.getAs[Long]("s_suppkey"))
      assert(r.getAs[Long]("n_items") == ls.length)
      assert(r.getAs[Int]("min_days").toLong == ls.min)
      assert(r.getAs[Int]("max_days").toLong == ls.max)
      assert(r.getAs[Double]("mean_days") == ls.sum.toDouble / ls.length)
      assert(math.abs(r.getAs[Double]("p50_days") - pct(ls, 0.5)) <= 1e-9)
      assert(math.abs(r.getAs[Double]("p90_days") - pct(ls, 0.9)) <= 1e-9)
    }
  }

  test("orders_market_basket equals a driver-side basket fold") {
    val inc = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey")))
      .distinct
    val nOrders = inc.map(_._1).distinct.length.toLong
    val partN = inc.groupBy(_._2).map { case (p, v) => p -> v.length.toLong }
    val support = inc.groupBy(_._1).toSeq.flatMap { case (_, ps) =>
      val sorted = ps.map(_._2).sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.length)
        yield (sorted(i), sorted(j))
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      .filter(_._2 >= 2)
    val expect = support.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(50)
    val got = SparkEntry.queries("orders_market_basket")(spark, sf).collect()
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (r, ((a, b), n)) =>
      assert(r.getAs[Long]("part_a") == a && r.getAs[Long]("part_b") == b)
      assert(r.getAs[Long]("support") == n)
      assert(r.getAs[Long]("n_a") == partN(a) && r.getAs[Long]("n_b") == partN(b))
      val lift = (BigInt(n) * nOrders).toDouble /
        (BigInt(partN(a)) * partN(b)).toDouble
      assert(math.abs(r.getAs[Double]("lift") - lift) <= 1e-12)
      // affinity pairs at the top: support >= 2 everywhere
      assert(r.getAs[Long]("support") >= 2)
    }
  }

  test("events_interarrival_profile equals a driver-side gap fold") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Long]("us"), r.getAs[Long]("event_id")))
    val gaps = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3, e._4)).toSeq
      sorted.zip(sorted.drop(1)).map { case (p, c) => (c._2, c._3 - p._3) }
    }.groupBy(_._1).map { case (t, v) => t -> v.map(_._2).sorted }
    val got = SparkEntry.queries("events_interarrival_profile")(spark, sf)
      .collect()
    assert(got.length == gaps.size && got.nonEmpty)
    got.foreach { r =>
      val gs = gaps(r.getAs[String]("event_type"))
      val n = gs.length
      assert(r.getAs[Long]("n_gaps") == n.toLong)
      val mean = gs.sum.toDouble / n
      assert(r.getAs[Double]("mean_us") == mean)
      // relative tolerance: the replay's interpolation multiply order
      // differs from Spark's in the last ulps at 1e9-scale micros
      assert(math.abs(r.getAs[Double]("p50_us") - pct(gs, 0.5))
        <= 1e-12 * math.max(1.0, pct(gs, 0.5).abs))
      assert(math.abs(r.getAs[Double]("p90_us") - pct(gs, 0.9))
        <= 1e-12 * math.max(1.0, pct(gs, 0.9).abs))
      val sq = gs.map(g => BigInt(g) * g).sum
      val disp = (sq.toDouble / n - mean * mean) / mean
      assert(math.abs(r.getAs[Double]("dispersion_us") - disp) <= 1e-6 * disp.abs.max(1.0))
      assert(disp > 0)
    }
  }

  test("events_changepoint equals a driver-side dense-series CUSUM replay") {
    import org.apache.spark.sql.functions.{col, date_trunc, unix_micros}
    val hourly = Tables.events(spark, sf)
      .select(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour")))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val hours = hourly.keys.map(_._2)
    val axis = (hours.min to hours.max by 3600000000L).toSeq
    val expect = hourly.keys.map(_._1).toSeq.distinct.map { t =>
      val xs = axis.map(h => hourly.getOrElse((t, h), 0L))
      val nh = BigInt(xs.length)
      val tot = BigInt(xs.sum)
      var run = BigInt(0)
      // argmax |cusum| with earliest-hour tiebreak = left fold keeping >
      var best = (BigInt(-1), 0L, BigInt(0)) // (|cusum|, hour, cusum)
      xs.zip(axis).foreach { case (x, h) =>
        run += BigInt(x) * nh - tot
        if (run.abs > best._1) best = (run.abs, h, run)
      }
      t -> ((best._2, xs.length.toLong, xs.sum, best._3.toLong))
    }.toMap
    val got = SparkEntry.queries("events_changepoint")(spark, sf)
      .withColumn("cp_hour", unix_micros(col("cp_hour"))).collect()
    assert(got.length == expect.size && got.nonEmpty)
    got.foreach { r =>
      val (h, nh, tot, cs) = expect(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("cp_hour") == h, s"cp hour for $r")
      assert(r.getAs[Long]("n_hours") == nh)
      assert(r.getAs[Long]("total_events") == tot)
      assert(r.getAs[Long]("cusum_scaled") == cs)
    }
  }

  test("events_user_diversity equals a driver-side fold") {
    val evs = Tables.events(spark, sf)
      .select("user_id", "event_type").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
    val byUser = evs.groupBy(_._1)
    val got = SparkEntry.queries("events_user_diversity")(spark, sf).collect()
    assert(got.length == byUser.size && got.nonEmpty)
    got.foreach { r =>
      val cnts = byUser(r.getAs[Long]("user_id")).groupBy(_._2)
        .map { case (t, v) => t -> v.length.toLong }
      val n = cnts.values.sum
      val top = cnts.toSeq.minBy { case (t, c) => (-c, t) }
      assert(r.getAs[Long]("n_events") == n)
      assert(r.getAs[Long]("n_types") == cnts.size.toLong)
      assert(r.getAs[String]("top_type") == top._1)
      assert(r.getAs[Double]("top_share") == top._2.toDouble / n)
      val sn = cnts.values.map(c => c * c).sum
      assert(r.getAs[Long]("simpson_num") == sn)
      assert(r.getAs[Double]("simpson_index") == sn.toDouble / (n * n).toDouble)
    }
  }

  test("events_gini equals a driver-side sorted-counts fold, and is " +
      "0 on uniform / -> 1 on degenerate distributions") {
    val evs = Tables.events(spark, sf)
      .select("user_id", "event_type").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("user_id")))
    val byType = evs.groupBy(_._1)
    def gini(counts: Seq[Long]): Double = {
      val c = counts.sorted
      val n = c.length.toLong
      val s = c.sum
      val w = c.zipWithIndex.map { case (ci, i0) =>
        BigInt(i0 + 1) * BigInt(ci) }.sum
      (BigInt(2) * w - BigInt(n + 1) * BigInt(s)).toDouble /
        (BigInt(n) * BigInt(s)).toDouble
    }
    val df = SparkEntry.queries("events_gini")(spark, sf)
    // plan shape (round 14): the scale contract is B32's — a RANGE
    // partition of the (type, c, user) count frame so each rank-sort
    // task owns 1/P of a type; the rank window must be slice-local
    // (pid leads its partition key), never one partition per type.
    val partedPlan = graft.queries.Analytics.giniParted(spark, sf)
      .queryExecution.executedPlan.toString
    assert(partedPlan.toLowerCase.contains("rangepartitioning"),
      "expected a range-partition exchange in the gini pass-1 plan")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("row_number() windowspecdefinition(pid"),
      "expected the rank window keyed by (pid, event_type)")
    // (the census-offset cumsum window IS keyed by type — fine, it
    // runs on the P × |types|-row slice census, not user-scale data)
    assert(!plan.contains("row_number() windowspecdefinition(event_type"),
      "the rank window must not partition by event_type alone")
    val got = df.collect()
    assert(got.length == byType.size && got.nonEmpty)
    got.foreach { r =>
      val cnts = byType(r.getAs[String]("event_type")).groupBy(_._2)
        .values.map(_.length.toLong).toSeq
      assert(r.getAs[Long]("n_users") == cnts.length.toLong)
      assert(r.getAs[Long]("n_events") == cnts.sum)
      val g = r.getAs[Double]("gini")
      assert(g == gini(cnts), s"gini diverges for ${r.getString(0)}")
      assert(g >= 0.0 && g < 1.0)
    }
    // identity sanity on planted shapes: perfectly uniform -> 0;
    // one user owning ~everything -> -> 1
    assert(gini(Seq.fill(10)(7L)) == 0.0)
    assert(gini(Seq.fill(99)(1L) :+ 100000L) > 0.97)
  }

  test("boundedDriverCollect: passes within the bound, fails loudly past it") {
    import org.apache.spark.sql.functions._
    val df = spark.range(100).select(col("id"))
    // within the bound: all rows arrive
    val ok = graft.queries.Analytics.boundedDriverCollect(df, 100, "test frame")
    assert(ok.length == 100)
    // past the bound: loud, named failure (and limit(cap+1) means at
    // most cap+1 rows ever reached the driver)
    val e = intercept[IllegalStateException] {
      graft.queries.Analytics.boundedDriverCollect(df, 99, "test frame")
    }
    assert(e.getMessage.contains("test frame") &&
      e.getMessage.contains("99"))
  }

  test("events_rfm: a monetary total of 10^16 or more still gets its bucket") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // five users, one purchase-bearing event each except users 4 and 5,
    // whose totals (two 9e15 purchases, three) exceed DECIMAL(18,2):
    // quintile boundaries sit at ranks 1..4, so user 4's total is the
    // top boundary and user 5 must land above all four
    val t0 = 1700000000000000L
    val rows = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)) ++
      Seq.fill(2)((4L, 9e15)) ++ Seq.fill(3)((5L, 9e15))
    val dir = java.nio.file.Files.createTempDirectory("graft_rfm").toString
    try {
      rows.zipWithIndex.map { case ((u, v), i) => (i.toLong, t0 + i, u, v) }
        .toDF("event_id", "us", "user_id", "value")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .withColumn("event_type", lit("purchase"))
        .withColumn("props", lit("{}"))
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      val m = SparkEntry.queries("events_rfm")(spark, dir).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("m_bucket")).toMap
      assert(m == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L),
        s"m_bucket by user: $m")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }
}
