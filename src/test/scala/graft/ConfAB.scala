package graft

import org.apache.spark.sql.SparkSession

/** The one same-JVM A/B main, for Spark session confs (e.g.
  * `spark.sql.adaptive.enabled`, `spark.sql.shuffle.partitions`,
  * `spark.graft.seal.enabled`): runs each named query `reps`× with the
  * conf at <aValue> and at <bValue>, interleaved after one warm-up per
  * arm, and prints per-arm medians and their ratio. A code change is
  * compared commit against commit with `python3 perfbench/run.py`
  * instead; the engine keeps no code-path switch just for an A/B.
  *
  * `sbt "Test/runMain graft.ConfAB <dir> <q,[q...]> <confKey> <aValue> <bValue> [reps]"`
  */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).toSeq
    val key = args(2)
    val aVal = args(3)
    val bVal = args(4)
    val reps = if (args.length > 5) args(5).toInt else 3
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

    def once(name: String): Double = {
      graft.operators.CacheOps.sweep(spark, blocking = true)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    names.foreach { name =>
      spark.conf.set(key, aVal); once(name)
      spark.conf.set(key, bVal); once(name)
      val a = scala.collection.mutable.ArrayBuffer[Double]()
      val b = scala.collection.mutable.ArrayBuffer[Double]()
      for (_ <- 1 to reps) {
        spark.conf.set(key, aVal)
        a += once(name)
        spark.conf.set(key, bVal)
        b += once(name)
      }
      println(f"AB $name%-40s $key a[$aVal]=${median(a.toSeq)}%6.3f " +
        f"b[$bVal]=${median(b.toSeq)}%6.3f  ratio=${
          median(a.toSeq) / median(b.toSeq)}%5.2f  " +
        f"(a: ${a.map(x => f"$x%.2f").mkString(",")} | " +
        f"b: ${b.map(x => f"$x%.2f").mkString(",")})")
    }
    spark.stop()
  }
}
