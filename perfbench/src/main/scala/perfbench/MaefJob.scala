package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.maef._
import graft.sources.ParquetWarehouse

/** One run of the reference DAG over the date window [start, end]: the
  * steps `MaefMain.run` chains, called one by one so each gets a span,
  * plus the chunking step and a `Loader` replay of the envelope artifact
  * that is upserted into one attribution table shared by every run (the
  * reference's INSERT OR REPLACE across runs). */
final class MaefJob(val name: String, start: String, end: String,
                    dataDir: String, outDir: String, tablePath: String) extends Job {

  /** `collectTo` is unused: every window's outputs are saved by [[save]]. */
  def run(spark: SparkSession, tracer: Tracer, collectTo: Option[String]): Unit = {
    last = None
    val tables = Map(
      "conversions" -> spark.read.schema(MaefModel.Conversions).parquet(s"$dataDir/conversions.parquet"),
      "session_sources" -> spark.read.schema(MaefModel.SessionSources).parquet(s"$dataDir/session_sources.parquet"),
      "session_costs" -> spark.read.schema(MaefModel.SessionCosts).parquet(s"$dataDir/session_costs.parquet"))
    tracer.span("maef.copy_verify") {
      MaefPipeline.copyAndVerify(tables, s"$outDir/warehouse")
    }
    val target = (t: String) => spark.read.parquet(s"$outDir/warehouse/$t")

    val (journeys, journeyRows) = tracer.span("maef.transform") {
      val conversions = target("conversions")
        .filter(col("conv_date") >= start && col("conv_date") <= end)
      val plan = MaefJourneys.transform(conversions, target("session_sources"))
      require(plan.limit(1).count() == 1L, "transform produced no journey entries")
      val j = plan.persist(StorageLevel.MEMORY_AND_DISK)
      JsonArrayIO.writePrettyJsonArray(j, s"$outDir/target_data.json")
      (j, j.count())
    }

    val payloads = tracer.span("maef.chunk") {
      val chunked = journeys.join(Chunker.assign(journeys).toDF(), Seq("conversion_id"))
      AttributionApiConnector.chunkPayloads(chunked)
    }

    val attribution = tracer.span("maef.attribute") {
      val attr = MaefPipeline.nativeAttribution(journeys, roundTo = Some(4))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val envelope = attr
        .agg(sort_array(collect_list(struct(
          col("conv_id").as("conversion_id"), col("session_id"),
          col("initializer"), col("holder"), col("closer"), col("ihc")))).as("value"))
        .select(
          lit(200).as("statusCode"),
          col("value"),
          lit(null).cast(MaefModel.ResponseEnvelope("data").dataType).as("data"),
          lit(null).cast(MaefModel.ResponseEnvelope("results").dataType).as("results"),
          lit(null).cast(MaefModel.ResponseEnvelope("partialFailureErrors").dataType)
            .as("partialFailureErrors"))
      JsonArrayIO.writePrettyJsonArray(envelope, s"$outDir/api_response.json")
      attr
    }

    val loaded = tracer.span("maef.load") {
      val l = Loader.load(spark, s"$outDir/api_response.json")
      Loader.verifyLoaded(l)
      tracer.span("sources.upsert") {
        ParquetWarehouse.upsert(l, tablePath, Seq("conv_id", "session_id"))
      }
      l
    }

    val report = tracer.span("maef.report") {
      MaefReporting.`export`(
        MaefReporting.channelReport(
          loaded, target("session_sources"), target("session_costs"), target("conversions"),
          fanout = false, exactSums = true))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    tracer.span("maef.sink") {
      JsonArrayIO.writeSingleCsv(report, s"$outDir/channel_report.csv")
    }
    MaefJob.counts(name) = (journeyRows, payloads.size.toLong)
    last = Some((attribution, loaded, report))
  }

  private var last: Option[(DataFrame, DataFrame, DataFrame)] = None

  override def save(dir: String): Unit = last.foreach { case (attribution, loaded, report) =>
    val d = s"$dir/$name"
    attribution.select("conv_id", "session_id", "ihc").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/native")
    loaded.coalesce(1).write.mode("overwrite").parquet(s"$d/loaded")
    report.coalesce(1).write.mode("overwrite").parquet(s"$d/report")
    loaded.sparkSession.read.parquet(tablePath).coalesce(1)
      .write.mode("overwrite").parquet(s"$d/table")
    last = None
  }

  /** The window's warehouse copy and sinks; its checked outputs are saved,
    * and the attribution table it upserted into is kept. */
  override def clean(): Unit = {
    last = None
    Disk.delete(new java.io.File(outDir))
  }
}

object MaefJob {
  /** Journey rows and API chunks of each window's run, by job name. */
  val counts = scala.collection.mutable.Map.empty[String, (Long, Long)]
}
