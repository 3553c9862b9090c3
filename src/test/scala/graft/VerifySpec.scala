package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  import SparkTestSession._

  test("Verify.dump writes every def's output and only those defs' oracles") {
    val oracled = graft.queries.Analytics.q1
    val rowsOnly = graft.queries.Analytics.approxDistinct
    assert(oracled.oracle.nonEmpty && rowsOnly.oracle.isEmpty)
    val out = Files.createTempDirectory("graft_verify_dump").toString
    try {
      Verify.dump(spark, sf, out, Seq(oracled, rowsOnly))
      // the session is left running for the caller
      assert(!spark.sparkContext.isStopped)
      val names = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(Paths.get(s"$out/oracle_sql.json")))
        .fieldNames().asScala.toList
      assert(names == List(oracled.name), s"oracle_sql.json keys: $names")
      Seq(oracled, rowsOnly).foreach { qd =>
        val parts = new java.io.File(s"$out/${qd.name}").listFiles()
        assert(parts != null && parts.exists(_.getName.endsWith(".parquet")),
          s"${qd.name}: no parquet output")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }
}
