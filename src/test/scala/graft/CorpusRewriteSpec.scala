package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** No memo outlives the corpus it was built from. One row per
  * registered query of the corpus families: the query runs on a
  * writable copy of sf0.001 (warming every memo it uses), then
  * `documents.parquet` and `embeddings.parquet` are overwritten in
  * place with a two-thirds subset, and the query's second answer in
  * the same session must equal its answer at a fresh path holding the
  * same subset.
  */
class CorpusRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  private val rows: Seq[QueryDef] = queries.Dedup.all ++
    queries.Similarity.all ++ queries.TextAnalysis.all ++ queries.Multimodal.all

  private lazy val base = Files.createTempDirectory("graft_rewrite")
  private lazy val live = copyOf(base.resolve("live"))
  private lazy val fresh = copyOf(base.resolve("fresh"))

  private def copyOf(dir: Path): Path = {
    Files.createDirectories(dir)
    Tables.names.foreach(t => Files.copy(
      java.nio.file.Paths.get(s"$sf/$t.parquet"), dir.resolve(s"$t.parquet")))
    dir
  }

  private def answer(q: QueryDef, dir: Path): Seq[String] =
    q.fn(spark, dir.toString).toJSON.collect().toSeq.sorted

  /** Every row's answer in each of `dirs`, `Threads` answers at a
    * time; each keeps its rows or its failure.
    */
  private def sweep(dirs: Path*): Map[(String, Path), Try[Seq[String]]] = {
    val pool = Executors.newFixedThreadPool(Threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (for (q <- rows; d <- dirs) yield (q.name, d) -> Future(Try(answer(q, d))))
      .map { case (k, f) => k -> Await.result(f, Duration.Inf) }.toMap
    finally pool.shutdown()
  }
  private val Threads = 4

  /** (second answer on the live copy, answer at the fresh path) by row:
    * every row runs on the live copy once, then its corpus is rewritten
    * in place and every row runs on it again.
    */
  private lazy val answers = {
    // the sweeps' threads must not touch this suite's lazy vals: this
    // one holds their lock until the sweeps end
    val (l, f) = (live, fresh)
    // every third row dropped by id
    val subsets = Seq("documents" -> "doc_id", "embeddings" -> "vec_id")
      .map { case (t, id) => s"$t.parquet" -> filteredParquet(
        s"$sf/$t.parquet", col(id) % 3 =!= 2, base.resolve(t).toString) }
    subsets.foreach { case (n, bytes) => Files.write(f.resolve(n), bytes) }
    val first = sweep(f, l)
    // overwrite, not replace: the same file, new length and mtime
    subsets.foreach { case (n, bytes) => Files.write(l.resolve(n), bytes) }
    val second = sweep(l)
    rows.map(q => q.name -> (second((q.name, l)), first((q.name, f)))).toMap
  }

  rows.foreach { q =>
    test(s"in-place corpus rewrite: ${q.name}") {
      val (got, want) = answers(q.name) match { case (g, w) => (g.get, w.get) }
      if (got != want) fail(s"${q.name}: ${got.size} rows after the " +
        s"rewrite, ${want.size} at a fresh path; first difference: " +
        got.diff(want).headOption.getOrElse(want.diff(got).head))
    }
  }

  override def afterAll(): Unit = {
    FrameCache.evictMatching(spark, base.toString)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
  }
}
