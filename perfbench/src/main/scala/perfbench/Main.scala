package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** One timed operation: a dashboard request, a crawl batch or read-back,
  * or a curation query. `ms` is its wall; `check` carries what the
  * output check needs (a body, a dump dir); `trace` its layer figures. */
final case class Op(kind: String, ms: Double, error: Option[String],
    check: Map[String, Any], trace: Map[String, Double])

/** A workload: what it primes at set-up, its untimed warm-up, and its
  * timed loop. */
trait Workload {
  def prime(spark: SparkSession): Unit
  def warmup(spark: SparkSession, rec: Recorder): Unit
  def run(spark: SparkSession, rec: Recorder, deadlineNs: Long): Map[String, Any]
  /** Layer figures measured apart from the ops, traced runs only. */
  def traceExtra(spark: SparkSession): Map[String, Double] = Map.empty
}

/** Times ops, sweeps session storage between them (as graft.Bench does)
  * and, when tracing, attaches each op's counter deltas and its split of
  * wall into job time and driver gap. */
final class Recorder(spark: SparkSession, val tracer: Tracer) {
  val ops = ArrayBuffer.empty[Op]
  private var opId = 0

  def leakedMb(): Double = spark.sparkContext.getRDDStorageInfo
    .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Run `body` as one timed op of `kind`. `after` runs outside the
    * timing (output capture for the checks) before the storage sweep. */
  def op[T](kind: String, timed: Boolean = true)(body: => T)(
      after: T => Map[String, Any] = (_: T) => Map.empty[String, Any]): Option[T] = {
    graft.operators.CacheOps.sweep(spark, blocking = true)
    val before = tracer.snapshot()
    tracer.op = opId
    val lo = tracer.nowMs
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"op.$kind")(body))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val hi = tracer.nowMs
    val trace = if (!tracer.enabled) Map.empty[String, Double] else {
      val d = tracer.snapshot() - before
      val jobMs = unionMs(tracer.jobsIn(lo, hi).map(j => (j._2, j._3)))
      d.values ++ Map("op.wall_ms" -> ms, "sched.job_ms" -> jobMs,
        "sched.driver_gap_ms" -> math.max(0.0, ms - jobMs),
        "cache.leaked_mb" -> leakedMb())
    }
    val check = res match {
      case Right(v) => try after(v) catch {
        case scala.util.control.NonFatal(e) =>
          Map("capture_error" -> String.valueOf(e.getMessage))
      }
      case Left(_) => Map.empty[String, Any]
    }
    val err = res.left.toOption.map { e =>
      System.err.println(s"[perfbench] $kind failed: $e")
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    if (timed) ops += Op(kind, ms, err, check, trace)
    tracer.op = -1
    opId += 1
    res.toOption
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

object Main {

  /** graft.Bench's box-speed probes, re-implemented here (they are
    * local to Bench.main): a single-thread xorshift loop, the same loop
    * on every core at once, and a 64 x 64 KiB write+fsync loop. Their
    * values are recorded with each result and never used to normalize. */
  def cpuProbeSec(): Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 300000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      i += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (x == 0) System.err.println("unreachable")
    sec
  }

  def cpuParProbeSec(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val times = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val threads = (0 until n).map(_ => new Thread(() => times.add(cpuProbeSec())))
    threads.foreach(_.start()); threads.foreach(_.join())
    times.asScala.sum / n
  }

  def ioProbeSec(): Double = {
    val dir = Files.createTempDirectory("perfbench-ioprobe")
    val buf = java.nio.ByteBuffer.allocate(65536)
    val t0 = System.nanoTime()
    try {
      (0 until 64).foreach { i =>
        val ch = java.nio.channels.FileChannel.open(dir.resolve(s"f$i"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try { buf.rewind(); ch.write(buf); ch.force(true) } finally ch.close()
      }
      (System.nanoTime() - t0) / 1e9
    } finally {
      val s = Files.list(dir)
      try s.forEach(p => Files.deleteIfExists(p)) finally s.close()
      Files.deleteIfExists(dir)
    }
  }

  def probes(): Map[String, Double] = Map(
    "cpu_probe_s" -> cpuProbeSec(), "cpu_par_probe_s" -> cpuParProbeSec(),
    "io_probe_s" -> ioProbeSec())

  /** Heap still in use after a full collection: what the engine keeps
    * between operations. Unlike the RSS high-water mark, it does not
    * depend on how far the collector chose to grow the heap. */
  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def session(plan: JsonNode): SparkSession = {
    val cpus = plan.get("cpus").asInt
    val root = plan.get("root").asText
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // the same session settings graft.Bench measures under
      .config("spark.graft.seal.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val plan = Json.read(args(0))
    val outPath = args(1)
    val trace = plan.get("trace").asInt == 1
    val deadlineS = plan.get("deadline_s").asDouble
    val workload: Workload = plan.get("workload").asText match {
      case "dashboard" => new Dashboard(plan)
      case "crawl" => new Crawl(plan)
      case "curation" => new Curation(plan)
      case "oracle-sql" =>
        // helper mode for pinning the curation hashes
        val oracles = graft.SparkEntry.oracleSql
        Json.writeFile(outPath, Json.strings(plan.get("names"))
          .map(n => n -> oracles.getOrElse(n, "")).toMap)
        return
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Set-up: session start, registration and table priming, once, in
    // a cold JVM, as a user pays it
    val s0 = System.nanoTime()
    val spark = session(plan)
    workload.prime(spark)
    val setupMs = (System.nanoTime() - s0) / 1e6
    val tracer = new Tracer(trace)
    tracer.attach(spark)
    val probesBefore = probes()
    val rec = new Recorder(spark, tracer)
    val w0 = System.nanoTime()
    workload.warmup(spark, rec)
    val warmupMs = (System.nanoTime() - w0) / 1e6
    rec.ops.clear()
    tracer.clear()

    val t0 = System.nanoTime()
    val extra = workload.run(spark, rec, t0 + (deadlineS * 1e9).toLong)
    val timedS = (System.nanoTime() - t0) / 1e9
    val extraTrace = if (trace) workload.traceExtra(spark) else Map.empty[String, Double]
    val retainedMb = retainedHeapMb()
    val probesAfter = probes()

    val root = plan.get("root").asText
    if (trace) Files.write(Paths.get(s"$root/spans.jsonl"),
      tracer.spanLines().asJava)
    val conf = spark.conf
    Json.writeFile(outPath, Map(
      "main_epoch_ms" -> mainEpochMs,
      "setup_ms" -> setupMs,
      "warmup_ms" -> warmupMs,
      "timed_s" -> timedS,
      "peak_rss_mb" -> peakRssMb(),
      "retained_heap_mb" -> retainedMb,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "probes_before" -> probesBefore,
        "probes_after" -> probesAfter),
      "ops" -> rec.ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms,
        "error" -> o.error, "check" -> o.check, "trace" -> o.trace)).toSeq,
      "extra" -> extra,
      "extra_trace" -> extraTrace,
      "spans" -> (if (trace) tracer.spans.size else 0)))
    spark.stop()
  }
}
