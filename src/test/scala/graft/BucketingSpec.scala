package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BucketingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("bucketed fact-fact join plans with ZERO exchanges below the aggregate") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bucketed_wh").toString
    val (li, ord) = Bucketing.ensureBucketed(spark, sf, wh)
    // at test scale AQE would broadcast the small side and never reach
    // the bucketed join path; disable broadcast so the plan shows the
    // mechanics that matter at fact-fact scale (where neither side fits)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqeBc = scala.util.Try(spark.conf.get(
      "spark.sql.adaptive.autoBroadcastJoinThreshold")).toOption
      .filter(_ != null)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
    val joined = Bucketing.bucketedJoin(spark, li, ord)

    // the join itself must read co-located buckets: no Exchange may
    // appear under the SortMergeJoin — only the final tiny aggregate
    // exchange (1 grouping column, |priorities| rows) survives
    val plan = joined.queryExecution.executedPlan.toString
    val joinSection = plan.split("HashAggregate").last
    assert(joinSection.contains("SortMergeJoin"),
      s"expected bucketed SortMergeJoin, plan:\n$plan")
    assert(!joinSection.contains("Exchange"),
      s"bucketed join should not shuffle either side, plan:\n$plan")

    // and the same join on the raw (unbucketed) tables DOES shuffle —
    // the delta is the point of the technique
    val raw = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"))
    val rawJoinSection = raw.queryExecution.executedPlan.toString
      .split("HashAggregate").last
    assert(rawJoinSection.contains("Exchange"),
      "control: the unbucketed join was expected to shuffle")

    // correctness: bucketed result equals the straightforward join
    val got = joined.collect()
      .map(r => r.getAs[String]("o_orderpriority") ->
        ((r.getAs[Long]("n_items"), r.getAs[Double]("sum_qty")))).toMap
    val want = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .collect()
      .map(r => r.getAs[String]("o_orderpriority") ->
        ((r.getAs[Long]("n_items"), r.getAs[Double]("sum_qty")))).toMap
    assert(got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      prevAqeBc match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
      spark.sql(s"DROP TABLE IF EXISTS $li")
      spark.sql(s"DROP TABLE IF EXISTS $ord")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    }
  }

  test("A1 kv_snapshot over the bucketed changelog plans with ZERO Exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bucketed_ev").toString
    val tbl = Bucketing.ensureEventsBucketed(spark, sf, wh)
    try {
      // the A1 window clusters on (event_type, user_id); the scan's
      // HashPartitioning(user_id) is a subset of those keys, so the
      // whole plan — scan → sort → window → filter — needs no shuffle
      val snap = queries.Coordination.kvSnapshotOver(spark.table(tbl))
      val qe = snap.queryExecution
      qe.toRdd.count()
      val plan = qe.executedPlan.toString
      assert(plan.contains("Window"), s"expected a window plan:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed changelog window should not shuffle, plan:\n$plan")

      // control: the same query over the raw parquet DOES shuffle
      val rawPlan = queries.Coordination
        .kvSnapshotOver(Tables.events(spark, sf))
        .queryExecution.executedPlan.toString
      assert(rawPlan.contains("Exchange"),
        "control: the unbucketed changelog window was expected to shuffle")

      // correctness: identical rows to the driver-gated A1 builder
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[String]("namespace"), r.getAs[Long]("key"),
          r.getAs[Double]("value"), r.getAs[Long]("ts"))
      val got = snap.collect().map(key).toSet
      val want = SparkEntry.queries("kv_snapshot")(spark, sf).collect()
        .map(key).toSet
      assert(got == want)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    }
  }

  test("a lineitem, orders or events file rewritten in place is bucketed afresh") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed_rw")
    val corpus = java.nio.file.Files.createDirectories(dir.resolve("corpus"))
    val (d, wh) = (corpus.toString, dir.resolve("wh").toString)
    val keys = Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
      "events" -> "user_id")
    keys.foreach { case (t, _) => java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/$t.parquet"), corpus.resolve(s"$t.parquet")) }
    val staged = scala.collection.mutable.Set.empty[String]
    def bucketed() = {
      val (li, ord) = Bucketing.ensureBucketed(spark, d, wh)
      val tbls = Seq(li, ord, Bucketing.ensureEventsBucketed(spark, d, wh))
      staged ++= tbls
      tbls
    }
    def sourceCounts() = keys.map { case (t, _) => Tables.loaders(t)(spark, d).count() }
    try {
      val before = bucketed()
      assert(before.map(spark.table(_).count()) == sourceCounts())
      assert(bucketed() == before, "an unchanged corpus was bucketed again")
      // overwrite each file in place with its even-key half
      keys.foreach { case (t, k) =>
        java.nio.file.Files.write(corpus.resolve(s"$t.parquet"), filteredParquet(
          s"$sf/$t.parquet", col(k) % 2 === 0, dir.resolve(t).toString))
      }
      val want = sourceCounts()
      assert(bucketed().map(spark.table(_).count()) == want,
        "a bucketed copy of the old file was served after the rewrite")
    } finally {
      staged.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
