package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.Tables
import graft.expressions.{CosineSimilarity, DecimalFold}

/** The expressions layer measured on its own: rows per second of the two
  * registered distance kernels, called directly on the embeddings table
  * (pairs of the first 200 vectors, checkpointed, so the timed pass is
  * the kernel projection over rows in memory). */
object Kernels {
  def throughput(spark: SparkSession, data: String): Map[String, Double] = {
    val base = Tables.load(spark, data, "embeddings").filter(col("vec_id") < 200)
    val pairs = base.select(col("embedding").as("a"))
      .crossJoin(base.select(col("embedding").as("b")))
      .localCheckpoint(eager = true)
    val reps = math.max(1L, 250000L / math.max(1L, pairs.count()))
    val many = pairs.crossJoin(spark.range(reps)).drop("id").localCheckpoint(eager = true)
    def rate(rows: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column): Double = {
      val n = rows.count().toDouble
      val q = rows.select(c.as("r"))
      q.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      q.write.format("noop").mode("overwrite").save()
      n / ((System.nanoTime() - t0) / 1e9) / 1e6
    }
    val fold = ColumnBridge.column(DecimalFold(ColumnBridge.expression(col("a")),
      ColumnBridge.expression(col("b")), squaredDiff = false))
    // the exact decimal fold is ~100x slower per row: one pass over the
    // 40k pairs instead of the 250k repeated rows
    try Map("expressions.cosine_mrows_per_s" -> rate(many, CosineSimilarity.cosine(col("a"), col("b"))),
      "expressions.decimalfold_mrows_per_s" -> rate(pairs, fold))
    finally {
      graft.operators.CacheOps.releaseCheckpoint(many)
      graft.operators.CacheOps.releaseCheckpoint(pairs)
    }
  }
}
