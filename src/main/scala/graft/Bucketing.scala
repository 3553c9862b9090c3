package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table staging — the shuffle-elimination technique for
  * repeated fact-fact joins at warehouse scale: write both fact tables
  * bucketed (and sorted) by the join key once, and every subsequent
  * join on that key reads co-located buckets with NO Exchange on
  * either side (Spark's bucketed SortMergeJoin). At 100 TB the one-off
  * bucketed write replaces a per-query shuffle of the whole fact
  * table; locally the same mechanics are spec-verified by asserting
  * the joined plan contains zero Exchange nodes below the aggregate.
  *
  * This is library infrastructure (SURVEY §2.G), not a `queries`
  * entry: the driver's correctness harness re-runs builders against
  * read-only sf dirs, while bucket metadata must live in a writable
  * catalog/warehouse — the spec owns the end-to-end proof instead.
  */
object Bucketing {

  /** Collision-resistant, identifier-safe tag for a staged dir's
    * CURRENT content: hex prefix of the MD5 of the path and its
    * [[FrameCache.corpusFingerprint]], so a table rewritten in place is
    * staged afresh instead of serving the old bucketed copy (a 32-bit
    * hashCode tag could alias two dirs under the tableExists guard).
    */
  private[graft] def dirTag(s: SparkSession, d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d@${FrameCache.corpusFingerprint(s, d)}".getBytes("UTF-8"))
    md.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Register bucketed copies of lineitem and orders (bucketBy the
    * join key `orderkey`, sorted within buckets) under the session's
    * catalog, writing data under `warehouseDir`. Idempotent per
    * session and corpus version; table names are suffixed so multiple
    * sf dirs coexist.
    */
  def ensureBucketed(s: SparkSession, d: String, warehouseDir: String,
      buckets: Int = 8): (String, String) = {
    val tag = dirTag(s, d)
    val li = s"graft_li_b$tag"
    val ord = s"graft_ord_b$tag"
    if (!s.catalog.tableExists(li)) {
      Tables.lineitem(s, d).write
        .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$warehouseDir/$li")
        .mode(SaveMode.Overwrite).format("parquet").saveAsTable(li)
    }
    if (!s.catalog.tableExists(ord)) {
      Tables.orders(s, d).write
        .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$warehouseDir/$ord")
        .mode(SaveMode.Overwrite).format("parquet").saveAsTable(ord)
    }
    (li, ord)
  }

  /** Register a bucketed copy of the `events` changelog — bucketBy the
    * coordination key `user_id`. Every A-family operator's one shuffle
    * is a window/groupBy keyed on (event_type, user_id) or (user_id),
    * and a hash partitioning on the SUBSET {user_id} satisfies both
    * clustered distributions — so over this table the per-query
    * Exchange disappears entirely (spec-proved via A1 kv_snapshot in
    * BucketingSpec). At 100 TB this converts the per-query changelog
    * shuffle into a one-off bucketed ingest, the same dial the
    * lineitem/orders pair above provides for repeated fact joins.
    */
  def ensureEventsBucketed(s: SparkSession, d: String, warehouseDir: String,
      buckets: Int = 8): String = {
    val tbl = s"graft_ev_b${dirTag(s, d)}"
    if (!s.catalog.tableExists(tbl)) {
      Tables.events(s, d).write
        .bucketBy(buckets, "user_id").sortBy("user_id")
        .option("path", s"$warehouseDir/$tbl")
        .mode(SaveMode.Overwrite).format("parquet").saveAsTable(tbl)
    }
    tbl
  }

  /** Revenue per order priority via the BUCKETED join — on bucketed
    * tables this plans as a SortMergeJoin whose children are bare
    * bucket scans (no Exchange below the final aggregate).
    */
  def bucketedJoin(s: SparkSession, liTable: String,
      ordTable: String): DataFrame =
    s.table(liTable)
      .join(s.table(ordTable), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
}
