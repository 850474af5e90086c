package graft

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for registered queries to files — the
  * plan evidence behind OPTIMIZATION_r*.md, regenerated on demand
  * rather than committed.
  *
  * `sbt "Test/runMain graft.PlanDump <dir> <outDir> <suffix> <q,[q...]>"`
  * writes `<outDir>/<query>_<suffix>.txt` holding the FORMATTED plan
  * (post-execution, so AQE's final decisions are visible in the
  * AdaptiveSparkPlan) after running the query through the noop sink.
  *
  * Round 20: the file ALSO carries every INTERMEDIATE SQL execution
  * the query ran (captured via a QueryExecutionListener) — iterative
  * operators truncate lineage with `localCheckpoint`, so the final
  * plan shows only `Scan ExistingRDD` and the interesting stages (the
  * dedup family's spread exchange, the CC round shape) were invisible
  * in the r19 dumps. Each checkpoint/collect materialization goes
  * through `SQLExecution.withNewExecutionId`, so the listener sees its
  * full pre-truncation plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.seal.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    // PLANDUMP_CONF="k=v,k=v" — session confs for the dump run (e.g.
    // AQE or shuffle partitions), so one binary dumps both arms of a
    // conf A/B
    sys.env.get("PLANDUMP_CONF").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    // every SQL execution during the query body, in completion order
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          execs.add((funcName, qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    names.foreach { name =>
      execs.clear()
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      // the listener bus is async: drain before reading the queue
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 10000L)
      val finalTxt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      import scala.jdk.CollectionConverters._
      val inner = execs.asScala.toSeq
        // the final noop save's own execution duplicates finalTxt
        .filterNot(_._2 == finalTxt)
      val txt = new StringBuilder(finalTxt)
      inner.zipWithIndex.foreach { case ((fn, plan), i) =>
        txt.append(
          s"\n\n==== intermediate execution #${i + 1} ($fn) ====\n")
        txt.append(plan)
      }
      val out = txt.toString
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        out.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt " +
        s"(${out.linesIterator.size} lines, ${inner.size} intermediate)")
    }
    spark.stop()
  }
}
