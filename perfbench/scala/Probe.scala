package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.functions.HashImpl
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.unsafe.types.UTF8String

/** The traced run's instruments, all outside graft's own code:
  *  - a SparkListener that sums each op's jobs, tasks, executor CPU,
  *    shuffle, input and spill (jobs carry the op index as a local
  *    property, which stream execution threads inherit);
  *  - a StreamingQueryListener that keeps every trigger's progress,
  *    filed under the op that started the stream;
  *  - each op's QueryPlanningTracker phases;
  *  - timed calls into Tables, and a single-thread HashImpl microbench.
  */
final class Probe(spark: SparkSession) {
  private val OpKey = "graft.perfbench.op"
  private val lock = new Object
  private val stageOp = mutable.HashMap.empty[Int, Int]
  // op -> jobs, tasks, executor cpu ns, shuffle write bytes, input bytes
  private val exec = mutable.HashMap.empty[Int, Array[Long]]
  private var spill = 0L
  // stream run id -> op; op -> (trigger start ns, durations, state rows, state bytes)
  private val runOp = mutable.HashMap.empty[java.util.UUID, Int]
  private val triggers = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Map[String, Long], Long, Long)]]
  private val phases = mutable.HashMap.empty[Int, Map[String, Double]]
  @volatile private var current = -1
  // progress events carry wall-clock times; spans use System.nanoTime
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { o =>
        e.stageIds.foreach(stageOp(_) = o.toInt)
        exec.getOrElseUpdate(o.toInt, new Array[Long](5))(0) += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        stageOp.get(e.stageId).foreach { o =>
          val x = exec.getOrElseUpdate(o, new Array[Long](5))
          x(1) += 1
          x(2) += m.executorCpuTime
          x(3) += m.shuffleWriteMetrics.bytesWritten
          x(4) += m.inputMetrics.bytesRead
        }
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    // delivered while the op's thread waits in start(), so `current` is its op
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { runOp(e.runId) = current }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + nanoOffset
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap
      val rows = p.stateOperators.map(_.numRowsTotal).sum
      val mem = p.stateOperators.map(_.memoryUsedBytes).sum
      lock.synchronized {
        runOp.get(p.runId).foreach { op =>
          triggers.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((startNs, d, rows, mem))
        }
      }
    }
  })

  def beginOp(i: Int): Unit = {
    spark.sparkContext.setLocalProperty(OpKey, i.toString)
    current = i
  }

  def endOp(): Unit = {
    spark.sparkContext.setLocalProperty(OpKey, null)
    current = -1
  }

  def planning(i: Int, t: QueryPlanningTracker): Unit =
    phases(i) = t.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  /** Median wall ms of `Tables.loaders(name)` per table, after one warm call. */
  private def tablesResolveMs(data: String, names: Seq[String]): Map[String, Double] =
    names.filter(n => new java.io.File(s"$data/$n.parquet").exists).map { n =>
      val load = Tables.loaders(n)
      load(spark, data)
      n -> median((1 to 5).map { _ =>
        val t0 = System.nanoTime(); load(spark, data); (System.nanoTime() - t0) / 1e6
      })
    }.toMap

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Rows/s of each HashImpl kernel on seeded inputs, one thread. */
  private def kernels(seed: Long): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    val words = "a the join hash row batch scan column customer filter small slow merge order vector line table data agg value key stream window spark part group big sort query fast".split(" ")
    val docs = Array.fill(2000)(UTF8String.fromString(
      Seq.fill(10 + rnd.nextInt(90))(words(rnd.nextInt(words.length))).mkString(" ")))
    val tokens = docs.map(HashImpl.tokenize)
    val shingles = tokens.map(HashImpl.shingles3)
    val vecs: Array[ArrayData] = Array.fill(2000)(
      new GenericArrayData(Array.fill(64)(rnd.nextGaussian().toFloat: Any)))
    var sink = 0L
    def rate(n: Int)(f: Int => Long): Double = median((1 to 5).map { _ =>
      var done = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 100000000L) { // >= 0.1 s per sample
        var i = 0
        while (i < n) { sink += f(i); i += 1 }
        done += n
      }
      done / ((System.nanoTime() - t0) / 1e9)
    })
    val r = Map(
      "minhash_rows_s" -> rate(docs.length)(i => HashImpl.minhash(shingles(i)).numElements()),
      "simhash64_rows_s" -> rate(docs.length)(i => HashImpl.simhash64(tokens(i))),
      "srp_sig_rows_s" -> rate(vecs.length)(i => HashImpl.srpSig(vecs(i), 16)),
      "cosine_ff_rows_s" -> rate(vecs.length)(i =>
        java.lang.Double.doubleToLongBits(HashImpl.cosineFF(vecs(i), vecs((i + 1) % vecs.length)))),
      "fingerprint64_rows_s" -> rate(docs.length)(i => HashImpl.fingerprint64(docs(i))))
    if (sink == 42) println() // keep the results live
    r
  }

  /** Everything the traced run measured, keyed by op index. */
  def finish(spans: Seq[Harness.Span], data: String, seed: Long,
      tables: Seq[String]): Map[String, Any] = {
    ListenerDrain(spark.sparkContext)
    val resolve = tablesResolveMs(data, tables)
    val k = kernels(seed)
    lock.synchronized {
      val trig = triggers.map { case (op, ts) =>
        op.toString -> ts.map { t =>
          Map("start_ns" -> t._1, "durations_ms" -> t._2, "state_rows" -> t._3,
            "state_mem_bytes" -> t._4)
        }
      }.toMap
      Map(
        "spans" -> spans.map(s => Seq(s.op, s.name, s.startNs, s.endNs)),
        "exec" -> exec.map { case (o, x) => o.toString -> x.toSeq }.toMap,
        "spill_bytes" -> spill,
        "triggers" -> trig,
        "planning_ms" -> phases.map { case (o, p) => o.toString -> p }.toMap,
        "tables_resolve_ms" -> resolve,
        "kernels" -> k)
    }
  }
}
