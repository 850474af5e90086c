package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.Tables

/** Batches of the ten iterative curation queries from the registry, in
  * a seeded order; each result is materialized through the noop sink. */
final class Curation(plan: JsonNode) extends Workload {
  private val data = plan.get("data").asText
  private val root = plan.get("root").asText
  private val batches = Json.elems(plan.get("batches")).map(Json.strings)
  private val queries = graft.SparkEntry.queries

  def prime(spark: SparkSession): Unit =
    Seq("customer", "documents", "embeddings").foreach { t =>
      Tables.load(spark, data, t).write.format("noop").mode("overwrite").save()
    }

  private def runOne(spark: SparkSession, rec: Recorder, name: String,
      timed: Boolean, dump: Option[String]): Unit = {
    rec.op("query", timed) {
      val df = rec.tracer.span("queries.build")(queries(name)(spark, data))
      rec.tracer.span("queries.sink")(df.write.format("noop").mode("overwrite").save())
      df
    } { df =>
      dump.foreach(d => ntz(df).coalesce(1).write.mode("overwrite").parquet(d))
      Map("name" -> name) ++ dump.map("dump" -> _)
    }
  }

  /** Instant timestamps dumped as NTZ (session TZ is UTC), the form the
    * DuckDB oracle returns; same rule as graft.Verify. */
  private def ntz(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampType) d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
      else d
    }

  /** graft.Bench's warm-up (touch the parquet reader, the shuffle and
    * the noop sink once), then one untimed run of each query in
    * `warmup`: a fixed subset that warms the machinery the ten share
    * (connected components, similarity joins, vector kernels). A full
    * warm-up batch does not fit the time budget of the repeated runs;
    * see README. */
  def warmup(spark: SparkSession, rec: Recorder): Unit = {
    Tables.load(spark, data, "customer").groupBy("c_mktsegment").count()
      .orderBy("c_mktsegment").write.format("noop").mode("overwrite").save()
    Json.strings(plan.get("warmup")).foreach(n => runOne(spark, rec, n, timed = false, None))
  }

  def run(spark: SparkSession, rec: Recorder, deadlineNs: Long): Map[String, Any] = {
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var b = 0
    // whole batches only: another starts when one as long as the last
    // still fits before the deadline
    while (b < batches.size &&
        (b == 0 || System.nanoTime() + walls.last * 1e6 < deadlineNs)) {
      val t0 = System.nanoTime()
      batches(b).foreach(n => runOne(spark, rec, n, timed = true, Some(s"$root/dumps/b$b-$n")))
      walls += (System.nanoTime() - t0) / 1e6
      b += 1
    }
    // the batch wall includes the untimed dumps and sweeps between
    // queries; the timed per-query walls are in the ops
    Map("batches" -> b, "batch_wall_ms" -> walls.toSeq)
  }

  override def traceExtra(spark: SparkSession): Map[String, Double] =
    Kernels.throughput(spark, data)
}
