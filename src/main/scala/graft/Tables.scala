package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver testdata star schema.
  *
  * All graft operators take the scale-factor directory as a parameter so
  * the same code runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1+
  * (bench) — and, unchanged, against a cluster-scale warehouse path.
  *
  * Resolution contract. A table's schema is inferred once per
  * (SparkSession, table path) and kept, as a metastore keeps it:
  *  - the first [[load]] runs Spark's footer inference
  *    (`spark.read.parquet(path).schema`, itself a Spark job);
  *  - every later load reads with that schema
  *    (`spark.read.schema(kept).parquet(path)`), which launches no job;
  *  - the kept schema is re-inferred once any data file it was inferred
  *    over is removed or rewritten (its length or mtime changed).
  *    Newly added part files do not invalidate it: that is the
  *    append-only contract, and Spark's own non-merging inference reads
  *    one footer and assumes the other files agree.
  * Only the schema is kept. Every load is a fresh relation — a fresh
  * file listing (appends show up) and fresh attribute ids (self-joins
  * such as q8's two `nation` scans stay distinct) — and every query
  * scans its data; no listing, data or result is cached. A path that
  * does not exist fails with Spark's own AnalysisException. The stream
  * sources and the coordination API's write path take their schemas
  * from the same cache ([[schemaOf]]).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** A kept schema and the (length, mtime) of each data file, by path,
    * that it was inferred over.
    */
  private final case class Resolved(schema: StructType,
      files: Map[String, (Long, Long)])

  // weak on the session: a session's entries go when the session does
  private val resolved = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Resolved]]())

  /** The schema of the parquet table at `path` under the resolution
    * contract above: kept per (session, path), re-inferred when a file
    * it was inferred over is gone or changed.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val kept = resolved.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Resolved]())
    // stat before inferring: a file rewritten in between leaves a stale
    // stat behind, which forces a re-inference, never a stale schema
    val files = dataFiles(spark, path)
    Option(kept.get(path)) match {
      case Some(r) if r.files.forall { case (f, st) => files.get(f).contains(st) } =>
        r.schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        if (files.nonEmpty) kept.put(path, Resolved(schema, files))
        schema
    }
  }

  /** (length, mtime) of each data file a scan of `path` reads, by path:
    * [[fileStatuses]] without the hidden names Spark's file index skips
    * (`_SUCCESS`, which every append rewrites, and `.crc` checksums).
    */
  private[graft] def dataFiles(spark: SparkSession, path: String): Map[String, (Long, Long)] =
    fileStatuses(spark.sparkContext.hadoopConfiguration, path).getOrElse(Nil)
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .map(st => st.getPath.toString -> ((st.getLen, st.getModificationTime)))
      .toMap

  /** The file statuses under `path`, in name order: the path itself when
    * it is a file, else a directory's children, one level further down
    * for partition directories. None when `path` does not exist.
    */
  private[graft] def fileStatuses(conf: org.apache.hadoop.conf.Configuration,
      path: String): Option[Seq[FileStatus]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def walk(st: FileStatus, depth: Int): Seq[FileStatus] =
      if (st.isDirectory && depth < 2)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq
          .flatMap(walk(_, depth + 1))
      else Seq(st)
    try Some(walk(fs.getFileStatus(p), 0))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Normalize events.ts to TIMESTAMP (LTZ, micro precision) across
    * generator vintages, so every downstream `unix_micros(ts)` call
    * site sees one type:
    *  - TIMESTAMP(NANOS) files (rounds ≤8): Spark's vectorized reader
    *    rejects nanos, so they are read as raw longs
    *    (spark.sql.legacy.parquet.nanosAsLong — set in
    *    [[graft.GraftSession]]) and truncated to micros with exact
    *    integer floor-division, matching DuckDB's nanos→micros
    *    truncation so oracle timestamps are bit-identical.
    *  - TIMESTAMP(MICROS, not UTC-adjusted) files (round 9 regen):
    *    Spark reads TIMESTAMP_NTZ, which LTZ-only functions
    *    (unix_micros) reject; cast to TIMESTAMP — the session zone is
    *    pinned UTC, so the wall clock (and the stored micros DuckDB
    *    sees) is unchanged.
    */
  private[graft] def withMicroTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        // exact integer FLOOR division (DIV alone truncates toward zero,
        // which would diverge from DuckDB's floor for pre-epoch nanos)
        df.withColumn("ts", expr(
          "timestamp_micros(ts DIV 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END))"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Name → loader, the single source of which tables need
    * normalization beyond a raw read (currently only events).
    */
  def loaders: Map[String, (SparkSession, String) => DataFrame] =
    names.map { n =>
      n -> (if (n == "events") events _ else load(_: SparkSession, _: String, n))
    }.toMap

  /** Ingest-spread for map-KERNEL-HEAVY consumers: when the parquet
    * scan yields far fewer partitions than the session's parallelism
    * (the local test files are single-row-group, so the map side would
    * run on one core), hash-repartition on the row key to the full
    * executor width. Only worth it above expensive kernels
    * (shingle/minhash/SRP signature computation — measured 4–12×
    * faster) — for cheap map work the extra exchange of the raw rows
    * costs more than the single-task compute it saves, so this is
    * opt-in per consumer, NOT applied to every load. At warehouse
    * scale scans split natively into thousands of partitions and the
    * guard keeps it a no-op; hash-by-key is deterministic, so results
    * are unaffected.
    */
  private[graft] def spread(df: DataFrame, s: SparkSession, key: String): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target, org.apache.spark.sql.functions.col(key))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = withMicroTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** One engine operator exposed through the driver contract: a named
  * DataFrame builder plus (when SQL-expressible) the exact DuckDB oracle.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object QueryDef {
  def oracled(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(sql))
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None)
}
