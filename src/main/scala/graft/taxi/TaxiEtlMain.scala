package graft.taxi

import graft.sources.Sinks
import org.apache.spark.sql.SparkSession

/** End-to-end pipeline main — the one-command replacement for the
  * reference's three scripts (extract.py → transform.py → load.py):
  *
  *   scripts/run.sh graft.taxi.TaxiEtlMain <inputTrips.parquet> <outputDir>
  *
  * Produces, under outputDir: extract/ (the 11-column contract),
  * transform/transformed_data.parquet + anomalies_<ts>.parquet +
  * transformation_report.json, warehouse/dim_time|dim_location|
  * dim_payment|fact_trips. One Spark application, fully lazy between
  * stages — Catalyst fuses extract+transform into single scans where the
  * reference materializes five intermediate DataFrames.
  */
object TaxiEtlMain {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: TaxiEtlMain <input.parquet> <outputDir>")
    val Array(input, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-taxi-etl")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (report, factRows) = run(spark, input, outDir)
    println(s"[transform] ${report.totalProcessed} rows, " +
      s"${report.anomalyCount} anomalies (${f"${report.anomalyRatePct}%.2f"}%)")
    println(s"[load] fact_trips: $factRows rows")
    spark.stop()
  }

  /** One pass from the raw trips at `input` to every output under `outDir`;
    * returns the quality report and the committed fact's row count. The
    * two cached transform branches are released before it returns. */
  def run(spark: SparkSession, input: String, outDir: String): (TaxiPipeline.QualityReport, Long) = {
    // extract (reference extract.py)
    val extracted = Sinks.requireNonEmpty(
      TaxiPipeline.extract(spark.read.parquet(input)), "extract")
    Sinks.writeParquet(extracted, s"$outDir/extract/extracted_data.parquet")

    // transform (reference transform.py) — tag once, write both branches
    val (valid, anomalies) = TaxiPipeline.transform(extracted)
    val validCached = valid.cache()
    val anomCached = anomalies.cache()
    Sinks.writeParquet(validCached, s"$outDir/transform/transformed_data.parquet")
    if (!anomCached.isEmpty)
      Sinks.writeTimestamped(anomCached, s"$outDir/transform")
    val report = TaxiPipeline.qualityReport(validCached, anomCached)
    val reportPath = java.nio.file.Paths.get(s"$outDir/transform/transformation_report.json")
    java.nio.file.Files.createDirectories(reportPath.getParent)
    java.nio.file.Files.writeString(reportPath, report.json)

    // load (reference load.py) — star schema, engine-side surrogate keys
    Sinks.writeParquet(TaxiWarehouse.dimTime(validCached), s"$outDir/warehouse/dim_time")
    Sinks.writeParquet(TaxiWarehouse.dimLocation(validCached), s"$outDir/warehouse/dim_location")
    Sinks.writeParquet(TaxiWarehouse.dimPayment(validCached), s"$outDir/warehouse/dim_payment")
    Sinks.writeParquet(TaxiWarehouse.factTrips(validCached), s"$outDir/warehouse/fact_trips")
    val factRows = spark.read.parquet(s"$outDir/warehouse/fact_trips").count()
    validCached.unpersist()
    anomCached.unpersist()
    (report, factRows)
  }
}
