package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters; an op's (or span's) figures are the difference
  * of two snapshots taken after the listener bus has been drained. */
final case class Counters(values: Map[String, Double]) {
  def -(o: Counters): Counters =
    Counters(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) })
}

/** One traced interval. Times are ms since the run's time origin. */
final class SpanRec(val id: Int, val name: String, val start: Double,
    val parent: Int, val op: Int) {
  var end: Double = Double.NaN
  var delta: Option[Counters] = None
}

/** Per-layer tracing from outside the engine: spans recorded around the
  * harness's own calls into each module, plus Spark's public listener
  * APIs (SparkListener task/stage/job events, QueryExecutionListener
  * planning phases, CodegenMetrics / CodeGenerator compile time) and
  * StreamOps.DrainStats. With `enabled = false` nothing is registered
  * and `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  private def epochToMs(t: Long): Double = (t - originEpochMs).toDouble

  val spans = ArrayBuffer.empty[SpanRec]
  private var stack: List[Int] = Nil
  var op: Int = -1

  private val adders = scala.collection.concurrent.TrieMap.empty[String, LongAdder]
  private def add(k: String, v: Long): Unit =
    adders.getOrElseUpdate(k, new LongAdder).add(v)
  /** Start times of running jobs; finished ones move to `jobs` as
    * (jobId, start, end) in run ms. */
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
  val jobs = new ConcurrentLinkedQueue[(Int, Double, Double)]()

  private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        add("sched.jobs", 1)
        jobStarts.put(e.jobId, epochToMs(e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobStarts.remove(e.jobId)
        if (st != null) jobs.add((e.jobId, st.doubleValue, epochToMs(e.time)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        add("sched.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("sched.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("exec.task_run_ms", m.executorRunTime)
          add("exec.task_cpu_ns", m.executorCpuTime)
          add("exec.task_gc_ms", m.jvmGCTime)
          val delay = e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime
          add("sched.task_delay_ms", math.max(0L, delay))
          add("shuffle.write_b", m.shuffleWriteMetrics.bytesWritten)
          add("shuffle.read_b", m.shuffleReadMetrics.totalBytesRead)
          add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
          add("shuffle.spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
          add("sources.input_b", m.inputMetrics.bytesRead)
          add("sources.input_rows", m.inputMetrics.recordsRead)
          add("ingest.output_b", m.outputMetrics.bytesWritten)
        }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe, ns)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        add("plan.executions", 1)
    })
  }

  /** Output-path classifier for write executions (set by the workload),
    * e.g. raw table vs rollup; unclassified writes are not counted. */
  @volatile var writeClass: String => Option[String] = _ => None

  private def record(qe: QueryExecution, ns: Long): Unit = {
    add("plan.executions", 1)
    add("plan.exec_ns", ns)
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"plan.${p}_ms", s.durationMs))
    }
    val out = qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    out.flatMap(writeClass).foreach(k => add(s"write.${k}_ns", ns))
  }

  /** Drain the async listener bus, then read every counter. */
  def snapshot(): Counters = {
    if (!enabled) return Counters(Map.empty)
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 10000)
    val base = adders.map { case (k, v) => k -> v.sum().toDouble }.toMap
    val (drains, drainS, execS) = graft.streaming.StreamOps.DrainStats.cumulative()
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    Counters(base ++ Map(
      "streaming.drains" -> drains.toDouble,
      "streaming.drain_ms" -> drainS * 1e3,
      "streaming.exec_ms" -> execS * 1e3,
      "codegen.compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime / 1e6,
      "jvm.gc_ms" -> gc.toDouble))
  }

  /** Time `body` as a span nested in the innermost open span. With
    * `sample`, also record the counter delta across the span. */
  def span[T](name: String, sample: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val before = if (sample) Some(snapshot()) else None
      val rec = new SpanRec(spans.size, name, nowMs, stack.headOption.getOrElse(-1), op)
      spans += rec
      stack = rec.id :: stack
      try body
      finally {
        rec.end = nowMs
        stack = stack.tail
        before.foreach(b => rec.delta = Some(snapshot() - b))
      }
    }

  /** Forget the spans and jobs recorded so far (the warm-up's). */
  def clear(): Unit = { spans.clear(); jobs.clear() }

  /** Jobs that ran (even partly) inside [lo, hi], clipped to it. */
  def jobsIn(lo: Double, hi: Double): Seq[(Int, Double, Double)] =
    jobs.asScala.toSeq.collect {
      case (id, s, e) if e >= lo && s <= hi => (id, math.max(s, lo), math.min(e, hi))
    }

  /** Spans plus one `sched.job` span per job, parented to the innermost
    * span that contains it, as JSON lines. */
  def spanLines(): Seq[String] = {
    val own = spans.toSeq
    var next = own.size
    val jobSpans = jobs.asScala.toSeq.sortBy(_._2).map { case (id, s, e) =>
      val parent = own.filter(p => p.start <= s && p.end >= e)
        .sortBy(p => p.end - p.start).headOption
      val rec = new SpanRec(next, "sched.job", s, parent.map(_.id).getOrElse(-1),
        parent.map(_.op).getOrElse(-1))
      rec.end = e
      next += 1
      (rec, id)
    }
    (own.map(r => (r, -1)) ++ jobSpans).map { case (r, jobId) =>
      Json.write(Map("id" -> r.id, "name" -> r.name, "start" -> r.start,
        "end" -> r.end, "parent" -> r.parent, "op" -> r.op) ++
        (if (jobId >= 0) Map("job" -> jobId) else Map.empty) ++
        r.delta.map(d => "delta" -> d.values))
    }
  }
}
