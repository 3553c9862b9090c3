package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.api.CoordinationApi
import org.apache.spark.JobCounter
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  import SparkTestSession._

  /** A writable changelog: `events.parquet` as a parquet directory of
    * `parts` copies of the testdata events file. Returns the table dir.
    */
  private def stage(parts: Int): String = {
    val dir = Files.createTempDirectory("graft_tables").toString
    Files.createDirectory(Paths.get(s"$dir/events.parquet"))
    (0 until parts).foreach(i => Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/events.parquet/part-$i.parquet")))
    dir
  }

  /** Rewrite part-0 in place with ts as INT64 nanos — what a legacy
    * TIMESTAMP(NANOS) log reads as under nanosAsLong.
    */
  private def rewriteAsNanos(dir: String): Unit = {
    val tmp = s"$dir/rewrite"
    Tables.events(spark, sf).withColumn("ts", unix_micros(col("ts")) * 1000L)
      .coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && !p.contains("/.")).head
    Files.move(Paths.get(part), Paths.get(s"$dir/events.parquet/part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  private val appendedKey = 990001L

  /** One row per resolution case: how a warm changelog changes, and
    * whether the next resolve must re-infer (≥ 1 Spark job) or reuse
    * the kept schema (0 jobs).
    */
  private case class Case(name: String, parts: Int, change: String => Unit,
      reinfers: Boolean, check: String => Unit = _ => ())

  private val cases = Seq(
    Case("warm session, nothing changed", 2, _ => (), reinfers = false,
      check = { dir =>
        // a fresh relation per load: self-joins keep distinct attributes
        def ids = Tables.load(spark, dir, "events")
          .queryExecution.analyzed.output.map(_.exprId).toSet
        val (a, b) = (ids, ids)
        assert(a.nonEmpty && a.intersect(b).isEmpty)
      }),
    Case("appended through CoordinationApi", 1, { dir =>
      val end = Tables.events(spark, dir).agg(max(col("ts"))).collect()(0)
        .getTimestamp(0)
      new CoordinationApi(spark, dir).append("click", appendedKey, "put", 7.01,
        new java.sql.Timestamp(end.getTime + 1000))
    }, reinfers = false, check = { dir =>
      assert(new CoordinationApi(spark, dir).fetch("click", appendedKey)
        .contains(7.01))
    }),
    Case("a part file deleted", 2,
      dir => Files.delete(Paths.get(s"$dir/events.parquet/part-1.parquet")),
      reinfers = true),
    Case("a part file rewritten with another ts type", 1, rewriteAsNanos,
      reinfers = true, check = { dir =>
        assert(Tables.load(spark, dir, "events").schema("ts").dataType == LongType)
      }))

  test("table resolution: a warm resolve launches no Spark job; a removed " +
      "or rewritten file forces a re-inference") {
    cases.foreach { c =>
      val dir = stage(c.parts)
      try {
        Tables.events(spark, dir) // cold: infers and keeps the schema
        c.change(dir)
        val (schema, jobs) = JobCounter.during(spark.sparkContext) {
          Tables.events(spark, dir)
          Tables.load(spark, dir, "events").schema
        }
        if (c.reinfers) assert(jobs >= 1, s"${c.name}: kept a stale schema")
        else assert(jobs == 0, s"${c.name}: warm resolve launched $jobs jobs")
        assert(schema == spark.read.parquet(s"$dir/events.parquet").schema,
          c.name)
        c.check(dir)
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("table resolution: a missing path fails with Spark's AnalysisException, " +
      "also once a kept table is gone") {
    intercept[AnalysisException](Tables.load(spark, "/nonexistent/graft", "events"))
    val dir = stage(1)
    Tables.events(spark, dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    intercept[AnalysisException](Tables.load(spark, dir, "events"))
  }
}
