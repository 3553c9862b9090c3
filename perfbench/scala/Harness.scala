package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{FrameCache, GraftSession, SparkEntry, Tables}
import graft.api.CoordinationApi
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side. It sets up graft's session (and, for the
  * query workloads, the staged artifacts), runs one workload's plan as
  * a closed loop with a single client, and writes every raw sample to
  * a JSON file; `perfbench/run.py` checks the answers and summarises.
  *
  * Arguments are `key=value` pairs:
  *  - `workload`: coord_api | batch_mix | populate
  *  - `data`: the generated input directory (`sfDir` of every call)
  *  - `plan`: tab-separated op list; the first two columns are the
  *    phase (`warm` or `timed`) and the pass. coord_api rows go on with
  *    op, namespace, key, value, ts_us; query rows with the query name.
  *  - `seconds`, `min_ops`: the timed window ends once both are reached
  *    and the current pass is complete
  *  - `twins`: `stream:batch` pairs, comma-separated; each stream twin's
  *    output is checked against its batch twin's, run after the window
  *  - `trace`: 1 adds listeners, spans and the layer probes
  *  - `seed`, `cpus`, `out`, `results` (check outputs), `scratch`
  *
  * Untraced and traced runs make exactly the same calls per op:
  * construct (`SparkEntry.queries(name)(spark, dir)`), plan
  * (`queryExecution.executedPlan`), execute (`collect()`); tracing only
  * adds listeners and bookkeeping.
  */
object Harness {

  final case class Span(op: Int, name: String, startNs: Long, endNs: Long)

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Loads (or, with an empty store, builds) the staged artifacts that
    * batch_mix's queries read -- the text and dedup families -- concurrently,
    * the way graft.Bench warms its families.
    */
  private def warmArtifacts(s: SparkSession, data: String): Unit =
    FrameCache.warmConcurrently(Seq(
      () => graft.queries.TextAnalysis.warmStages(s, data),
      () => graft.queries.Dedup.warmStages(s, data)))

  /** One set-up: session start, then the artifact warm-up if asked. */
  private def setupOnce(cpus: String, data: String,
      artifacts: Boolean): (SparkSession, Map[String, Any]) = {
    val (b0, l0) = FrameCache.diskStats
    val t0 = System.nanoTime()
    val s = GraftSession.get(cpus)
    s.conf.set(FrameCache.PublishGraceConf, "5000")
    val t1 = System.nanoTime()
    if (artifacts) warmArtifacts(s, data)
    val t2 = System.nanoTime()
    val (b1, l1) = FrameCache.diskStats
    s -> Map("session_s" -> (t1 - t0) / 1e9,
      "framecache_s" -> (t2 - t1) / 1e9, "built" -> (b1 - b0), "loaded" -> (l1 - l0))
  }

  private def rssPeakMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val data = a("data")
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = a.getOrElse("cpus", "4")
    val queryWorkload = workload != "coord_api"
    val out = mutable.LinkedHashMap.empty[String, Any]

    if (workload == "populate") { // fill the artifact store once per checkout
      val (s, m) = setupOnce(cpus, data, artifacts = true)
      s.stop()
      Files.writeString(Paths.get(a("out")), Json(m + ("oracles" -> SparkEntry.oracleSql)))
      return
    }

    // ---- set-up, timed from JVM start until the first op can be served ---
    val (spark, setup) = setupOnce(cpus, data, artifacts = queryWorkload)
    out("setup") = setup + ("cold_s" ->
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    val disk0 = FrameCache.diskStats

    val probe = if (trace) Some(new Probe(spark)) else None
    val plan = scala.io.Source.fromFile(a("plan")).getLines()
      .filter(_.nonEmpty).map(_.split("\t", -1).toIndexedSeq).toIndexedSeq
    val seconds = a("seconds").toDouble
    val minOps = a("min_ops").toInt
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Span]
    val checks = mutable.LinkedHashMap.empty[String, Any]
    val api = if (queryWorkload) null else new CoordinationApi(spark, data)
    val queries = if (queryWorkload) SparkEntry.queries else Map.empty[String, (SparkSession, String) => DataFrame]
    val oracles = SparkEntry.oracleSql
    val twins = a.getOrElse("twins", "").split(",").filter(_.nonEmpty)
      .map { p => val Array(st, b) = p.split(":"); st -> b }.toMap

    /** After the timed window: the same artifacts built into an empty store. */
    def buildIntoEmptyStore(): Map[String, Any] = if (!queryWorkload) Map.empty else {
      val empty = Files.createTempDirectory(Paths.get(a("scratch")), "store").toString
      FrameCache.evict(spark)
      spark.conf.set(FrameCache.IndexDirConf, empty)
      val b0 = FrameCache.diskStats._1
      val t0 = System.nanoTime()
      warmArtifacts(spark, data)
      Map("framecache_build_s" -> (System.nanoTime() - t0) / 1e9,
        "framecache_built" -> (FrameCache.diskStats._1 - b0))
    }

    def span[T](op: Int, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally spans += Span(op, name, t0, System.nanoTime())
    }

    /** One op: (answer, result rows and schema for the output check). */
    def runOp(idx: Int, row: IndexedSeq[String]): (Any, Array[Row], StructType) =
      if (!queryWorkload) {
        val (op, ns) = (row(2), row(3))
        val key = if (row(4).isEmpty) 0L else row(4).toLong
        def value = row(5).toDouble
        def ts = {
          val us = row(6).toLong
          val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
          t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
          t
        }
        val answer = span(idx, "api." + op) {
          op match {
            case "put" | "update" => api.append(ns, key, op, value, ts)
            case "delete" => api.append(ns, key, op, 0.0, ts)
            case "joinGroup" => api.joinGroup(ns, key, value, ts)
            case "leaveGroup" => api.leaveGroup(ns, key, ts)
            case "fetch" => api.fetch(ns, key)
            case "fetchCas" => api.fetchCas(ns, key)
            case "isMember" => api.isMember(ns, key)
            case "getLeader" => api.getLeader(ns).map { case (l, sup) => Seq(l, sup) }
            case "membershipList" =>
              api.membershipList(ns).collect().toSeq
                .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
                .sortBy(_._1).map { case (m, sup) => Seq(m, sup) }
          }
        }
        (answer, null, null)
      } else {
        val df = span(idx, "construct")(queries(row(2))(spark, data))
        span(idx, "plan")(df.queryExecution.executedPlan)
        val rows = span(idx, "execute")(df.collect())
        probe.foreach(_.planning(idx, df.queryExecution.tracker))
        (rows.length, rows, df.schema)
      }

    val checked = mutable.Set.empty[String]
    var timedS = 0.0
    var timedOps = 0
    var stop = false
    var i = 0
    while (i < plan.size && !stop) {
      val row = plan(i)
      val timed = row.head == "timed"
      val name = row(2)
      probe.foreach(_.beginOp(i))
      val cpu0 = cpuBean.getProcessCpuTime
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val (answer, rows, schema, err) =
        try { val (x, r, sc) = runOp(i, row); (x, r, sc, null) }
        catch { case e: Throwable => (null, null, null, e.toString.take(500)) }
      val t1 = System.nanoTime()
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      probe.foreach(_.endOp())
      spans += Span(i, "op", t0, t1)
      ops += Map("i" -> i, "phase" -> row.head, "name" -> name, "wall_s" -> (t1 - t0) / 1e9,
        "cpu_s" -> cpu, "gc_s" -> gc, "answer" -> answer, "error" -> err)
      // output check, outside the timed window: the first timed result of
      // each oracled query or stream twin is written for run.py to compare
      // with its oracle or its batch twin
      if (timed && rows != null && (oracles.contains(name) || twins.contains(name)) &&
          checked.add(name)) {
        val path = s"${a("results")}/$name"
        spark.createDataFrame(rows.toSeq.asJava, schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        checks(name) = path
      }
      if (timed) {
        timedS += (t1 - t0) / 1e9
        timedOps += 1
        val passEnd = i + 1 >= plan.size || plan(i + 1)(1) != row(1)
        if (timedS >= seconds && timedOps >= minOps && passEnd) stop = true
      }
      i += 1
    }
    // live heap after full collections: what the run keeps in memory. The
    // second one follows Spark's ContextCleaner, which frees the blocks of
    // collected broadcasts and shuffles asynchronously after the first
    System.gc()
    Thread.sleep(500)
    System.gc()
    out("heap_retained_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    out("ops") = ops
    out("checks") = checks
    out("rss_peak_mb") = rssPeakMb
    // artifacts the ops built or loaded themselves, past the set-up
    out("op_artifacts") = Map("built" -> (FrameCache.diskStats._1 - disk0._1),
      "loaded" -> (FrameCache.diskStats._2 - disk0._2))
    val traced = probe.map(_.finish(spans.toSeq, data, a("seed").toLong,
      if (queryWorkload) Tables.names else Seq("events")))
    // the batch twins of the stream twins that ran, after the window
    for ((st, b) <- twins if checks.contains(st)) {
      val path = s"${a("results")}/$b"
      queries(b)(spark, data).coalesce(1).write.mode("overwrite").parquet(path)
      checks(b) = path
    }
    traced.foreach(t => out("trace") = t ++ buildIntoEmptyStore())
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
  }
}

/** Minimal JSON writer for the harness's maps, sequences and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
