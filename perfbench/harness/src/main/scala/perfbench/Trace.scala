package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span at one layer boundary: name, interval in epoch seconds, the span
  * that caused it (-1 for a root) and the operation it belongs to. */
final class Span(val id: Int, val name: String, val start: Double,
    var end: Double, val parent: Int, val op: Int)

/** Layer counters of one operation, measured where the work happens. */
final class Counters {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    "jobs" -> 0.0, "stages" -> 0.0, "tasks" -> 0.0, "one_task_stages" -> 0.0,
    "exec_run_s" -> 0.0, "exec_cpu_s" -> 0.0, "exec_gc_s" -> 0.0,
    "scan_bytes" -> 0.0, "scan_rows" -> 0.0, "shuffle_write_bytes" -> 0.0,
    "shuffle_read_bytes" -> 0.0, "shuffle_fetch_wait_s" -> 0.0,
    "spill_disk_bytes" -> 0.0, "task_skew" -> 0.0, "longest_stage_s" -> 0.0,
    "codegen_compiles" -> 0.0, "codegen_compile_s" -> 0.0, "jvm_gc_s" -> 0.0,
    "build_jobs" -> 0.0)
  def add(k: String, v: Double): Unit = c(k) = c(k) + v
}

/** Records spans and counters from Spark's own listener interfaces, from
  * outside the program: a [[SparkListener]] for jobs, stages and tasks and a
  * [[QueryExecutionListener]] for Catalyst's phase times. Everything stays in
  * memory until [[json]] is called at the end of the run.
  *
  * Listener events arrive on Spark's listener thread. The caller opens an
  * operation with [[beginOp]], marks its phases with [[open]]/[[close]], and
  * calls [[endOp]] only after the listener bus has drained, so every event
  * of an operation is attributed to it. Job, stage and Catalyst spans are
  * parented by time: to the innermost open-or-closed phase span of the
  * current operation that contains their start. */
class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.ArrayBuffer[Counters]()
  private val opNames = mutable.ArrayBuffer[String]()
  @volatile private var op = -1
  private val jobSpan = mutable.Map[Int, Int]()          // jobId -> span id
  private val stageJob = mutable.Map[Int, Int]()         // stageId -> job span id
  private val taskTimes = mutable.Map[(Int, Int), mutable.ArrayBuffer[Double]]()
  private var codegen0 = codegenSnapshot()
  private var gc0 = gcSeconds()

  def now(): Double = Tracer.now()

  def beginOp(name: String): Int = synchronized {
    op = counters.size
    counters += new Counters
    opNames += name
    codegen0 = codegenSnapshot()
    gc0 = gcSeconds()
    open(name, -1)
  }

  /** Ends the current operation after its root span was closed. Codegen and
    * GC deltas are taken here, so call it after the listener bus has drained. */
  def endOp(): Unit = synchronized {
    val (n1, t1) = codegenSnapshot()
    val k = counters(op)
    k.add("codegen_compiles", n1 - codegen0._1)
    k.add("codegen_compile_s", t1 - codegen0._2)
    k.add("jvm_gc_s", gcSeconds() - gc0)
    op = -1
  }

  def open(name: String, parent: Int): Int = synchronized {
    val s = new Span(spans.size, name, now(), Double.NaN, parent, op)
    spans += s
    s.id
  }

  def close(id: Int): Unit = synchronized { spans(id).end = now() }

  /** Adds a span with known bounds, parented by time within the current op;
    * events outside any operation are not traced. */
  private def place(name: String, start: Double, end: Double): Int = {
    if (op < 0) return -1
    val parent = spans.indices.reverseIterator
      .map(spans(_)).takeWhile(_.op == op)
      .filter(s => s.name != "job" && s.name != "stage" && !s.name.startsWith("catalyst."))
      .find(s => s.start <= start && (s.end.isNaN || start <= s.end))
      .map(_.id).getOrElse(-1)
    val s = new Span(spans.size, name, start, end, parent, op)
    spans += s
    s.id
  }

  private def cur: Option[Counters] = if (op >= 0) Some(counters(op)) else None

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val id = place("job", e.time / 1000.0, Double.NaN)
      if (id >= 0) jobSpan(e.jobId) = id
      e.stageIds.foreach(sid => stageJob(sid) = id)
      cur.foreach { k =>
        k.add("jobs", 1)
        val p = spans(id).parent
        if (p >= 0 && spans(p).name == "build") k.add("build_jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach(id => spans(id).end = e.time / 1000.0)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) cur.foreach { k =>
        k.add("tasks", 1)
        k.add("exec_run_s", m.executorRunTime / 1e3)
        k.add("exec_cpu_s", m.executorCpuTime / 1e9)
        k.add("exec_gc_s", m.jvmGCTime / 1e3)
        k.add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
        k.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
        k.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        k.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        k.add("shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        k.add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
        taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer()) += e.taskInfo.duration / 1e3
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val times = taskTimes.remove((si.stageId, si.attemptNumber())).getOrElse(mutable.ArrayBuffer())
      for (start <- si.submissionTime; end <- si.completionTime; k <- cur) {
        spans += new Span(spans.size, "stage", start / 1000.0, end / 1000.0,
          stageJob.getOrElse(si.stageId, -1), op)
        k.add("stages", 1)
        if (si.numTasks == 1) k.add("one_task_stages", 1)
        val dur = (end - start) / 1000.0
        if (dur > k.c("longest_stage_s") && times.nonEmpty) {
          val sorted = times.sorted
          val median = sorted(sorted.size / 2)
          k.c("longest_stage_s") = dur
          k.c("task_skew") = if (median > 0) sorted.last / median else 1.0
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        for ((phase, name) <- Seq("analysis" -> "catalyst.analysis",
            "optimization" -> "catalyst.optimizer", "planning" -> "catalyst.planning");
            p <- qe.tracker.phases.get(phase))
          place(name, p.startTimeMs / 1000.0, p.endTimeMs / 1000.0)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** All spans and counters as one JSON document. */
  def json(): String = synchronized {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else f"$d%.6f"
    val ss = spans.map(s =>
      s"""[${s.id},"${s.name}",${num(s.start)},${num(s.end)},${s.parent},${s.op}]""")
    val cs = counters.indices.map { i =>
      val kv = counters(i).c.map { case (k, v) => s""""$k":${num(v)}""" }
      s"""{"name":"${opNames(i)}",${kv.mkString(",")}}"""
    }
    s"""{"spans":[${ss.mkString(",")}],"ops":[${cs.mkString(",")}]}"""
  }

  /** Compiles so far and their summed seconds. Spark keeps compile times
    * in a sampling histogram; mean × count is exact while fewer than its
    * 1028-sample reservoir have been recorded, an estimate beyond. */
  private def codegenSnapshot(): (Double, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount.toDouble, h.getSnapshot.getMean * h.getCount / 1e3)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}

object Tracer {
  private val base = System.currentTimeMillis() * 1e-3 - System.nanoTime() * 1e-9
  /** Epoch seconds with nanoTime resolution, on the listener clock. */
  def now(): Double = base + System.nanoTime() * 1e-9

  /** One tracer per JVM: the CLI instantiates the listener classes below
    * separately, and both must feed the same trace. */
  lazy val shared = new Tracer
}

/** Listeners a CLI child loads through `spark.extraListeners` and
  * `spark.sql.queryExecutionListeners`. The whole child is one operation;
  * its trace is written to the file named by the `perfbench.trace` system
  * property when the application ends. */
class CliSparkListener extends SparkListener {
  private val t = Tracer.shared
  private val root = t.beginOp("cli")
  override def onJobStart(e: SparkListenerJobStart): Unit = t.sparkListener.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = t.sparkListener.onJobEnd(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = t.sparkListener.onTaskEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    t.sparkListener.onStageCompleted(e)
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    t.close(root)
    t.endOp()
    sys.props.get("perfbench.trace").foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), t.json()))
  }
}

class CliQueryListener extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    Tracer.shared.queryListener.onSuccess(f, qe, d)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}
