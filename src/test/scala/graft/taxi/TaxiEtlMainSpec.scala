package graft.taxi

import graft.SparkSpec
import graft.sources.Sinks
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** `TaxiEtlMain.run`, the whole pipeline from raw trips to the warehouse,
  * run three times on the planted fixture in one session: the budget of a
  * warm pass, and the schemas of what it writes. */
class TaxiEtlMainSpec extends SparkSpec {

  /** Jobs one pass runs on the fixture. */
  private val PassJobs = 22

  private lazy val dir = Files.createTempDirectory("graft_taxi_etl").toString

  /** (jobs, Janino compiles) of each of three passes. */
  private lazy val passes: Seq[(Long, Long)] = {
    val input = s"$dir/raw.parquet"
    Sinks.writeParquet(TaxiFixture.trips(spark), input)
    val jobs = new AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    spark.sparkContext.addSparkListener(listener)
    try (0 until 3).map { k =>
      ListenerDrain(spark.sparkContext)
      val (j0, c0) = (jobs.get, compiles)
      TaxiEtlMain.run(spark, input, s"$dir/pass$k")
      ListenerDrain(spark.sparkContext)
      (jobs.get - j0, compiles - c0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a warm pass compiles no generated code and runs no extra jobs") {
    // Spark keeps compiled classes in a static cache of
    // spark.sql.codegen.cache.maxEntries (100) split into 4 LRU segments;
    // a pass whose classes overflow a segment recompiles them every pass
    val (jobs, compiles) = passes(2)
    assert(compiles == 0, s"(jobs, compiles) per pass: $passes")
    assert(jobs <= PassJobs, s"(jobs, compiles) per pass: $passes")
  }

  /** The Spark schema a sink recorded in the first part file under `table`. */
  private def writtenSchema(table: String): String = {
    val part = Files.walk(Paths.get(table)).iterator().asScala
      .find(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(part.toUri), spark.sparkContext.hadoopConfiguration))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata") finally reader.close()
    DataType.fromJson(json).asInstanceOf[StructType].fields
      .map(f => s"${f.name} ${f.dataType.simpleString}${if (f.nullable) "" else " not null"}")
      .mkString(", ")
  }

  test("the seven written tables keep their schemas: names, types, nullability") {
    val out = s"$dir/pass${passes.size - 1}"
    val extracted = "VendorID smallint not null, tpep_pickup_datetime timestamp, " +
      "tpep_dropoff_datetime timestamp, passenger_count smallint not null, " +
      "trip_distance double, PULocationID smallint not null, DOLocationID smallint not null, " +
      "RatecodeID int, payment_type int, fare_amount double, total_amount double"
    val metrics = s"$extracted, trip_duration double, avg_speed double"
    val decimals = Seq("trip_distance", "fare_amount", "total_amount", "duration_min", "avg_speed")
      .map(c => s"$c decimal(8,2)").mkString(", ")
    val anomalies = Files.list(Paths.get(s"$out/transform")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("anomalies_")).toSeq
    assert(anomalies.size == 1)
    Seq(
      "extract/extracted_data.parquet" -> extracted,
      "transform/transformed_data.parquet" -> (s"$metrics, pickup_hour int, day_of_week string, " +
        "time_period string not null, payment_label string, ratecode_label string"),
      s"transform/${anomalies.head.getFileName}" -> s"$metrics, rejection_reason string",
      "warehouse/dim_time" ->
        "time_pk bigint, datetime timestamp, hour smallint, day_of_week string, time_period string not null",
      "warehouse/dim_location" ->
        "location_pk int not null, location_id int not null, borough string not null",
      // collect_set holds no nulls, so the label is recorded as not null
      "warehouse/dim_payment" -> "payment_pk int not null, payment_type string not null",
      "warehouse/fact_trips" -> ("time_pk bigint, pickup_loc_pk int not null, " +
        "dropoff_loc_pk int not null, payment_pk int not null, " +
        s"passenger_count smallint not null, $decimals")
    ).foreach { case (table, schema) =>
      assert(writtenSchema(s"$out/$table") == schema, table)
    }
  }
}
