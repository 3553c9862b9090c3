package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [query names...]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing args: restrict to these query names (local
    // iteration only — the driver always runs the full set)
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a typo here " +
        "would silently verify nothing")
    val defs = SparkEntry.registry.filter(d => only.isEmpty || only(d.name))
    val spark = session()
    try dump(spark, sfDir, outDir, defs) finally spark.stop()
  }

  /** The session every dump main runs on. A verify run never races a
    * live cross-JVM publisher, so a crashed earlier run's unmarked
    * artifact must not stall affected keys for the production publish
    * grace (the mtime check already skips OLD debris; this bounds the
    * fresh-crash window too).
    */
  def session(): SparkSession = {
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    if (spark.conf.get(FrameCache.PublishGraceConf, "").isEmpty)
      spark.conf.set(FrameCache.PublishGraceConf, "5000")
    spark
  }

  /** Write each def's result to `<outDir>/<name>` as parquet and the
    * oracle SQL of exactly these defs to `<outDir>/oracle_sql.json`, in
    * the shape `tools/check_oracles.py` reads. A failing query is
    * reported and its output dir removed. Leaves the session running.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      defs: Seq[QueryDef]): Unit = {
    new java.io.File(outDir).mkdirs()
    defs.foreach { qd =>
      try qd.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${qd.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${qd.name} failed: ${e.getMessage}")
        // a query can fail at analysis, BEFORE overwrite clears the old
        // output — remove any stale result or the checker would PASS
        // against a previous run's data
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$outDir/${qd.name}"))
      }
    }
    val json = defs.flatMap(qd => qd.oracle.map(sql => s"${q(qd.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
