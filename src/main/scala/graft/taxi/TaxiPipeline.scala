package graft.taxi

import graft.etl.Anomalies
import graft.queries.Funcs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ShortType

/** The reference pipeline end-to-end, reference-exact semantics, over the
  * taxi-trip schema (`SELECTED_COLUMNS`, reference
  * `Scripts_ETL/extract.py:7-19`). This is the library a user of the
  * reference would actually migrate to; the `graft.queries.*` objects
  * re-phrase the same operators over the harness tables for the oracle.
  *
  * Everything is a lazy DataFrame→DataFrame function: Catalyst fuses the
  * whole extract+transform chain into one codegen'd scan at any scale.
  */
object TaxiPipeline {

  val selectedColumns: Seq[String] = Seq(
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
    "trip_distance", "PULocationID", "DOLocationID", "RatecodeID", "payment_type",
    "fare_amount", "total_amount")

  /** Extract stage (reference `extract.py:21-66`): projection → datetime
    * coercion (null on bad input, tz naive via UTC session) → drop null
    * dates → null-fill + int16 narrowing. The category cast
    * (`extract.py:53`) is a no-op in Spark (parquet dictionary-encodes). */
  def extract(raw: DataFrame): DataFrame = {
    val dateCols = Seq("tpep_pickup_datetime", "tpep_dropoff_datetime")
    val narrowed = Seq("VendorID", "passenger_count", "PULocationID", "DOLocationID")
    val projected = raw.select(selectedColumns.map(col): _*)
    val coerced = dateCols.foldLeft(projected)((df, c) =>
      df.withColumn(c, to_timestamp(col(c))))
    val cleaned = coerced.na.drop(dateCols)
    val ints = narrowed.foldLeft(cleaned)((df, c) =>
      df.withColumn(c, coalesce(col(c), lit(0)).cast(ShortType)))
    // float64 contract for measures (reference reads these as float64;
    // inputs may arrive as decimal from other writers)
    Seq("trip_distance", "fare_amount", "total_amount").foldLeft(ints)((df, c) =>
      df.withColumn(c, col(c).cast("double")))
  }

  /** Derived metrics (reference `transform.py:33-41`): duration in minutes
    * from timestamp subtraction, speed = distance/hours rounded to 2 (the
    * reference rounds BEFORE the range rule — preserved). ÷0 diverges:
    * pandas yields Infinity, `try_divide` yields NULL with ANSI on or off —
    * both are tagged anomalous by the (null-aware) speed rule below, and
    * the duration<=0 rule fires first anyway, so the split matches. */
  def calculateMetrics(df: DataFrame): DataFrame =
    df.withColumn("trip_duration",
        (col("tpep_dropoff_datetime").cast("long") - col("tpep_pickup_datetime").cast("long")) / 60.0)
      .withColumn("avg_speed", round(try_divide(col("trip_distance"), col("trip_duration") / 60.0), 2))

  /** The five prioritized rules, exact labels and bounds
    * (reference `transform.py:47-53`; pandas `between` is inclusive).
    * The negated range rules must reject NULL explicitly: pandas
    * `~df.between(...)` on NaN yields True (anomaly), but a Spark
    * three-valued `!between` on NULL yields NULL and the when-chain would
    * skip the rule, silently classifying a NaN-distance row as VALID.
    * The positive `<= 0` rules need no guard — pandas `NaN <= 0` is False
    * and Spark NULL is skipped: same outcome. */
  val rules: Seq[(String, Column)] = Seq(
    "Durée invalide"             -> (col("trip_duration") <= 0),
    "Distance hors limites"      -> (col("trip_distance").isNull || !col("trip_distance").between(0.1, 100)),
    "Montant de course invalide" -> (col("fare_amount") <= 0),
    "Passagers invalides"        -> (col("passenger_count") <= 0),
    "Vitesse irréaliste"         -> (col("avg_speed").isNull || !col("avg_speed").between(1, 100))
  )

  def tagAnomalies(df: DataFrame): DataFrame = Anomalies.tagged(df, rules)

  /** Split (reference `transform.py:64-65`): valid rows drop the reason
    * column; anomalies keep it (the S4 side-output shape). */
  def validTrips(tagged: DataFrame): DataFrame = Anomalies.splitValid(tagged)
  def anomalies(tagged: DataFrame): DataFrame = Anomalies.splitAnomalies(tagged)

  /** Time features (reference `transform.py:75-90`). */
  def addTimeFeatures(df: DataFrame): DataFrame =
    df.withColumn("pickup_hour", hour(col("tpep_pickup_datetime")))
      .withColumn("day_of_week", date_format(col("tpep_pickup_datetime"), "EEEE"))
      .withColumn("time_period", Funcs.timePeriod(col("pickup_hour")))

  val paymentLabels: Seq[(String, String)] = Seq(
    "1" -> "Carte de crédit", "2" -> "Espèces", "3" -> "Gratuit", "4" -> "Conflit")
  val ratecodeLabels: Seq[(String, String)] = Seq(
    "1" -> "Standard", "2" -> "Aéroport JFK", "3" -> "Aéroport Newark",
    "4" -> "Aéroport LaGuardia", "5" -> "Course partagée", "6" -> "Location")

  /** Categorical encoding (reference `transform.py:92-111`): dict-map with
    * null on unmatched keys. */
  def encodeFeatures(df: DataFrame): DataFrame =
    df.withColumn("payment_label",
        Funcs.labelMap(col("payment_type").cast("string"), paymentLabels))
      .withColumn("ratecode_label",
        Funcs.labelMap(col("RatecodeID").cast("string"), ratecodeLabels))

  /** Dedup on the composite natural key (reference `transform.py:171`).
    * pandas keep='first' is input-order-defined; distributed equivalent
    * keeps the row with the smallest tiebreak for determinism. */
  def dedupTrips(df: DataFrame, tiebreak: Seq[String] = Nil): DataFrame =
    if (tiebreak.isEmpty)
      df.dropDuplicates(Seq("tpep_pickup_datetime", "tpep_dropoff_datetime"))
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("tpep_pickup_datetime", "tpep_dropoff_datetime")
        .orderBy(tiebreak.map(col): _*)
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }

  /** Full transform stage (reference `transform.py:146-175`): metrics →
    * anomaly split → dedup → time features → encoding. The reference dedups
    * last; the features are row-wise functions of the kept row, so dedup
    * first gives the same rows while its shuffle carries only fixed-width
    * columns and plans as a hash aggregate. Returns (valid, anomalies);
    * caller decides caching/sinks. */
  def transform(extracted: DataFrame): (DataFrame, DataFrame) = {
    val tagged = tagAnomalies(calculateMetrics(extracted))
    val valid = encodeFeatures(addTimeFeatures(dedupTrips(validTrips(tagged))))
    (valid, anomalies(tagged))
  }

  /** Quality report (reference `transform.py:129-144`) as a tiny driver-side
    * struct, from ONE grouped aggregate over both branches: the group with
    * a null reason is the valid branch. */
  case class QualityReport(totalProcessed: Long, anomalyCount: Long, anomalyRatePct: Double,
      anomalyDetails: Map[String, Long], avgTripDuration: Double, avgSpeed: Double,
      totalFareAmount: Double) {

    /** `transformation_report.json`: details by descending count, and a
      * metric that is not a number (empty valid branch) as null. */
    def json: String = {
      val detailJson = anomalyDetails.toSeq.sortBy(-_._2)
        .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
      s"""{
         |  "total_processed": $totalProcessed,
         |  "anomaly_count": $anomalyCount,
         |  "anomaly_rate": "${f"$anomalyRatePct%.2f"}%",
         |  "anomaly_details": $detailJson,
         |  "data_quality_metrics": {
         |    "avg_trip_duration": ${num(avgTripDuration)},
         |    "avg_speed": ${num(avgSpeed)},
         |    "total_fare_amount": ${num(totalFareAmount)}
         |  }
         |}""".stripMargin
    }
  }

  def qualityReport(valid: DataFrame, anomalies: DataFrame): QualityReport = {
    val measures = Seq("trip_duration", "avg_speed", "fare_amount")
    val groups = valid.select(lit(null).cast("string").as("rejection_reason") +: measures.map(col): _*)
      .unionByName(anomalies.select("rejection_reason", measures: _*))
      .groupBy("rejection_reason")
      .agg(count(lit(1)), avg("trip_duration"), avg("avg_speed"), sum("fare_amount"))
      .collect()
    val (validGroup, reasons) = groups.partition(_.isNullAt(0))
    val v = validGroup.headOption
    val detail = reasons.map(r => r.getString(0) -> r.getLong(1)).toMap
    val nAnom = detail.values.sum
    val total = v.fold(0L)(_.getLong(1)) + nAnom
    // no valid group (100% anomalous input), or only null measures in it:
    // report NaN rather than NPE mid-pipeline
    def d(i: Int): Double = v.filterNot(_.isNullAt(i)).fold(Double.NaN)(_.getDouble(i))
    QualityReport(total, nAnom, if (total == 0) 0 else nAnom * 100.0 / total, detail,
      d(2), d(3), d(4))
  }
}
