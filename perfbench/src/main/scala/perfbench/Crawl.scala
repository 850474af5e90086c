package perfbench

import java.io.File
import java.sql.Timestamp

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{GrafanaMacros, LocaleFuncs}
import graft.ingest.{ContinuousAggregate, IngestDataset}
import graft.operators.RestQuery
import graft.sources.{CsvDialects, XmlSource}
import graft.streaming.StreamOps

/** Closed loop, one client: a crawler landing batches one after the
  * other. Per batch: parse + land in a fresh landing dir, drain it with
  * ContinuousAggregate.streamingSink (raw append + rollup refresh), then
  * the batch's revision (IngestDataset.replaceWindow) and drift
  * (appendEvolve) payloads, then k read-backs over what was written. */
final class Crawl(plan: JsonNode) extends Workload {
  private val root = plan.get("root").asText

  val landingSchema: StructType = StructType(Seq(
    StructField("ts", TimestampType), StructField("unit", LongType),
    StructField("kind", StringType), StructField("value", DoubleType)))

  // time_bucket_s / time_bucket for the expanded panel SQL, as
  // RestServer registers them for the dashboard
  def prime(spark: SparkSession): Unit = graft.functions.TimeFuncs.register(spark)

  private def parseCsv(spark: SparkSession, path: String): DataFrame =
    CsvDialects.germanCsv(spark, path).select(
      to_timestamp(col("Zeitstempel"), "dd.MM.yyyy HH:mm:ss").as("ts"),
      col("Einheit").cast(LongType).as("unit"),
      col("Art").as("kind"),
      LocaleFuncs.germanDouble(col("Wert")).as("value"))

  private def parseXml(spark: SparkSession, path: String): DataFrame =
    XmlSource.readFlatXml(spark, path, "Messwert",
      Seq("Zeitstempel", "Einheit", "Art", "Wert", "Qualitaet"), "UTF-8").select(
      to_timestamp(col("Zeitstempel")).as("ts"),
      col("Einheit").cast(LongType).as("unit"),
      col("Art").as("kind"),
      col("Wert").cast(DoubleType).as("value"),
      col("Qualitaet").as("quality"))

  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }

  /** One crawler session over its own warehouse. */
  private final class Session(spark: SparkSession, rec: Recorder, tag: String) {
    val warehouse = s"$root/$tag/warehouse"
    val ds = new IngestDataset(spark, warehouse, "crawl")
    val ca = new ContinuousAggregate(ds, "raw", "rollup", "ts", "hour",
      Seq("kind"), Seq(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(28, 2))).as("total")))
    var drifted = false
    val tr = rec.tracer

    def tableFiles(): Set[String] =
      parquetFiles(new File(s"$warehouse/crawl")).map(_.getPath).toSet

    def step(b: JsonNode, timed: Boolean): Int = {
      val i = b.get("index").asInt
      val files0 = if (tr.enabled) tableFiles() else Set.empty[String]
      var landed = 0
      rec.op("batch", timed) {
        val landing = s"$root/$tag/landing/b$i"
        val files = b.get("files").asInt
        tr.span("sources.parse_land") {
          parseCsv(spark, b.get("csv").asText).repartition(files)
            .write.parquet(landing)
        }
        val n = parquetFiles(new File(landing)).size
        if (n != files) throw new IllegalStateException(
          s"landing b$i holds $n files, the generator wrote $files")
        val tLand = System.nanoTime()
        tr.span("streaming.drain", sample = true) {
          ca.streamingSink(StreamOps.landingZone(spark, landing, landingSchema),
            s"$root/$tag/checkpoints/b$i")
        }
        val freshMs = (System.nanoTime() - tLand) / 1e6
        landed = b.get("rows").asInt
        Option(b.get("revision")).foreach { r =>
          val from = Timestamp.valueOf(r.get("lo").asText)
          val until = Timestamp.valueOf(r.get("hi").asText)
          var rev = tr.span("sources.parse_revision")(parseCsv(spark, r.get("csv").asText))
          if (drifted) rev = rev.withColumn("quality", lit(null).cast(StringType))
          tr.span("ingest.replace_window", sample = true) {
            ds.replaceWindow("raw", rev, "ts", from, until)
          }
          tr.span("ingest.refresh")(ca.refresh(from, until))
          landed += r.get("rows").asInt
        }
        Option(b.get("drift")).foreach { d =>
          val df = tr.span("sources.parse_xml")(parseXml(spark, d.get("xml").asText))
          tr.span("ingest.append_evolve", sample = true) {
            ds.appendEvolve("raw", df, partitionTs = Some("ts"))
          }
          drifted = true
          tr.span("ingest.refresh")(ca.refresh(Timestamp.valueOf(b.get("lo").asText),
            Timestamp.valueOf(b.get("hi").asText)))
          landed += d.get("rows").asInt
        }
        freshMs
      } { fresh =>
        Map("index" -> i, "fresh_ms" -> fresh) ++
          (if (tr.enabled) Map("files_written" -> (tableFiles() -- files0).size)
           else Map.empty)
      }
      Json.elems(b.get("reads")).zipWithIndex.foreach { case (r, k) =>
        rec.op("read", timed)(read(r)) { rows =>
          Map("batch" -> i, "read" -> k, "rows" -> rows)
        }
      }
      landed
    }

    /** One read-back: a PostgREST read of the raw table, or a Grafana
      * panel over the rollup; rows come back as JSON lines. */
    def read(r: JsonNode): Seq[String] = {
      val df = tr.span("queries.build") {
        if (r.has("query")) RestQuery(ds.read("raw"), r.get("query").asText)
        else {
          val sql = tr.span("functions.macro_expand") {
            GrafanaMacros.expand(r.get("sql").asText, r.get("from").asText,
              r.get("to").asText, r.get("interval").asText)
          }
          ca.read().createOrReplaceTempView("rollup")
          spark.sql(sql)
        }
      }
      tr.span("queries.sink")(df.toJSON.collect().toSeq)
    }
  }

  private val batches = Json.elems(plan.get("batches"))
  private var session: Session = _
  private var next = 0

  /** The untimed first batches build the table (and evolve its
    * schema once) in the same warehouse the timed batches extend. */
  def warmup(spark: SparkSession, rec: Recorder): Unit = {
    session = new Session(spark, rec, "run")
    while (next < batches.size && !batches(next).get("timed").asBoolean) {
      session.step(batches(next), timed = false)
      next += 1
    }
  }

  def run(spark: SparkSession, rec: Recorder, deadlineNs: Long): Map[String, Any] = {
    rec.tracer.writeClass = p =>
      if (p.contains("/crawl/raw") || p.contains("/.staging-raw-")) Some("raw")
      else if (p.contains("/crawl/rollup") || p.contains("/.staging-rollup-")) Some("rollup")
      else None
    val s = session
    var rows = 0L
    // every run lands all its batches, so each run does the same work
    // over the same layouts; the deadline is only a safety stop, and a
    // run that reaches it is counted as failed
    while (next < batches.size && System.nanoTime() < deadlineNs) {
      rows += s.step(batches(next), timed = true)
      next += 1
    }
    val raw = new File(s"${s.warehouse}/crawl/raw")
    val parts = Option(raw.listFiles).toSeq.flatten.count(_.getName.startsWith("date="))
    Map("batches" -> next, "planned" -> batches.size, "rows" -> rows,
      "warehouse" -> s"${s.warehouse}/crawl",
      "raw_files" -> parquetFiles(raw).size, "raw_partitions" -> parts)
  }
}
