package graft.taxi

import graft.SparkSpec
import java.sql.Timestamp
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}

/** Reference-semantics tests on a synthesized taxi fixture (FIXTURES.md §A)
  * with KNOWN per-rule violation counts — mirrors the golden ratios the
  * reference logs (`transform.log:2-9`).
  */
class TaxiPipelineSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val fixture: DataFrame = TaxiFixture.trips(spark)

  private lazy val extracted = TaxiPipeline.extract(fixture)
  private lazy val tagged = TaxiPipeline.tagAnomalies(TaxiPipeline.calculateMetrics(extracted))

  test("extract keeps the 11-column contract and narrows int columns") {
    assert(extracted.columns.toSeq == TaxiPipeline.selectedColumns)
    assert(extracted.schema("VendorID").dataType.typeName == "short")
    assert(extracted.schema("tpep_pickup_datetime").dataType.typeName == "timestamp")
  }

  test("per-reason anomaly counts match the planted fixture") {
    val counts = TaxiPipeline.anomalies(tagged)
      .groupBy("rejection_reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map(
      "Durée invalide" -> 2L,
      "Distance hors limites" -> 1L,
      "Montant de course invalide" -> 1L,
      "Passagers invalides" -> 1L,
      "Vitesse irréaliste" -> 1L))
  }

  test("first-match-wins: duration rule shadows distance rule") {
    val reason = tagged
      .filter(org.apache.spark.sql.functions.col("trip_distance") === 500.0)
      .select("rejection_reason").head().getString(0)
    assert(reason == "Durée invalide") // NOT "Distance hors limites"
  }

  test("split is a partition: valid ∪ anomalies == input, disjoint") {
    val v = TaxiPipeline.validTrips(tagged).count()
    val a = TaxiPipeline.anomalies(tagged).count()
    assert(v + a == 11)
    assert(v == 5) // 3 clean + 1 duplicate + 1 payment-5 row
    assert(!TaxiPipeline.validTrips(tagged).columns.contains("rejection_reason"))
  }

  test("time features and label encoding match the reference maps") {
    val f = TaxiPipeline.encodeFeatures(TaxiPipeline.addTimeFeatures(
      TaxiPipeline.validTrips(tagged)))
    val r1 = f.filter(f("VendorID") === 1 && f("trip_distance") === 5.0).head()
    assert(r1.getAs[Int]("pickup_hour") == 8)
    assert(r1.getAs[String]("day_of_week") == "Friday") // 2024-03-01
    assert(r1.getAs[String]("time_period") == "Matin")
    assert(r1.getAs[String]("payment_label") == "Carte de crédit")
    assert(r1.getAs[String]("ratecode_label") == "Standard")
    // unmatched keys → null (payment_type 5, RatecodeID 99)
    val r5 = f.filter(f("payment_type") === 5).head()
    assert(r5.getAs[String]("payment_label") == null)
    assert(r5.getAs[String]("ratecode_label") == null)
  }

  test("dedup on (pickup, dropoff) keeps exactly one of the duplicate pair") {
    val (valid, _) = TaxiPipeline.transform(extracted)
    assert(valid.count() == 4) // 5 valid - 1 duplicate
    assert(valid.filter(valid("tpep_pickup_datetime") === ts("2024-03-01 08:00:00")).count() == 1)
    // deterministic variant keeps the lowest VendorID
    val det = TaxiPipeline.dedupTrips(
      TaxiPipeline.validTrips(tagged), tiebreak = Seq("VendorID"))
    val kept = det.filter(det("tpep_pickup_datetime") === ts("2024-03-01 08:00:00")).head()
    assert(kept.getAs[Short]("VendorID") == 1)
  }

  test("quality report totals are consistent") {
    val (valid, anoms) = TaxiPipeline.transform(extracted)
    val r = TaxiPipeline.qualityReport(valid, anoms)
    assert(r.totalProcessed == 10) // 11 input - 1 dedup'd
    assert(r.anomalyCount == 6)
    assert(r.anomalyDetails.values.sum == 6)
    assert(math.abs(r.anomalyRatePct - 60.0) < 1e-9)
  }

  test("dashboard KPI measures match hand-computed golden values") {
    // deterministic valid set (tiebreak keeps VendorID 1 of the dup pair):
    //   dist 5.0  pax 2  total 24.0  03-01 08:00 Matin       speed 10.0
    //   dist 2.0  pax 1  total 11.0  03-01 13:00 Après-midi  speed 10.0
    //   dist 15.0 pax 3  total 48.0  03-02 19:00 Soir        speed 15.0
    //   dist 5.0  pax 1  total 24.0  03-08 09:00 Matin       speed 10.0
    val valid = TaxiPipeline.dedupTrips(
      TaxiPipeline.encodeFeatures(TaxiPipeline.addTimeFeatures(
        TaxiPipeline.validTrips(tagged))), tiebreak = Seq("VendorID"))
    val kpi = TaxiDashboard.kpiCards(valid).head()
    assert(kpi.getAs[Double]("median_trip_distance") == 5.0) // sorted 2,5,5,15
    assert(kpi.getAs[Double]("avg_commercial_speed_kmh") == 18.1) // 11.25 mph × 1.609
    assert(kpi.getAs[Long]("total_trips") == 4L)
    // per-day sums 35.0 / 48.0 / 24.0 → avg 35.67
    val rev = TaxiDashboard.dailyAvgRevenue(valid).head().getAs[Double]("daily_avg_revenue")
    assert(rev == 35.67)
    // donut: Matin 3/7, Soir 3/7, Après-midi 1/7 (share layout mirrors the
    // reference donut: descending share, deterministic tiebreak)
    val donut = TaxiDashboard.passengerDonut(valid).collect()
      .map(r => (r.getString(0), r.getAs[Long]("passengers"), r.getAs[Double]("pct")))
    assert(donut.toSeq == Seq(
      ("Matin", 3L, 42.86), ("Soir", 3L, 42.86), ("Après-midi", 1L, 14.29)))
  }

  test("null trip_distance is an anomaly, not VALID (pandas ~NaN.between == True)") {
    // The reference extract does NOT null-fill trip_distance, so NaN
    // distances reach the rules; pandas `~df.between(...)` on NaN yields
    // True → 'Distance hors limites'. A naive Spark `!between` would skip
    // the rule on NULL and mislabel the row VALID.
    import spark.implicits._
    val rows = Seq[(java.lang.Double, String, String, Int, Double, Double)](
      (null, "2024-03-01 08:00:00", "2024-03-01 08:30:00", 2, 20.0, 24.0), // null distance
      (5.0, "2024-03-01 09:00:00", "2024-03-01 09:30:00", 2, 20.0, 24.0)   // clean
    ).toDF("trip_distance", "tpep_pickup_datetime", "tpep_dropoff_datetime",
      "passenger_count", "fare_amount", "total_amount")
      .withColumn("tpep_pickup_datetime", org.apache.spark.sql.functions.to_timestamp($"tpep_pickup_datetime"))
      .withColumn("tpep_dropoff_datetime", org.apache.spark.sql.functions.to_timestamp($"tpep_dropoff_datetime"))
    val t = TaxiPipeline.tagAnomalies(TaxiPipeline.calculateMetrics(rows))
    val tags = t.orderBy("tpep_pickup_datetime")
      .select("rejection_reason").collect().map(_.getString(0)).toSeq
    assert(tags == Seq("Distance hors limites", null))
  }

  test("star schema: payment-null rows silently drop from the fact (inner join)") {
    val (valid, _) = TaxiPipeline.transform(extracted)
    val fact = TaxiWarehouse.factTrips(valid)
    assert(fact.count() == 3) // 4 valid - 1 payment_label null
    assert(fact.schema("fare_amount").dataType.typeName == "decimal(8,2)")
    // FK integrity and key equivalence against the values in `valid`,
    // cached so every frame reads the same row of the duplicate pair
    val kept = valid.cache()
    try {
      StarSchemaCheck(kept)
      // a null pickup has no dim_time row: that trip drops too
      val noPickup = kept.withColumn("tpep_pickup_datetime",
        when(col("fare_amount") === 40.0, lit(null)).otherwise(col("tpep_pickup_datetime")))
      assert(TaxiWarehouse.factTrips(noPickup).count() == 2)
      StarSchemaCheck(noPickup)
    } finally kept.unpersist()
  }

  test("ANSI mode tags the fixture the same: a zero duration divides to NULL, not an error") {
    def tags(): Seq[(Short, String, Option[String])] =
      TaxiPipeline.tagAnomalies(TaxiPipeline.calculateMetrics(TaxiPipeline.extract(fixture)))
        .select("VendorID", "tpep_pickup_datetime", "rejection_reason").collect()
        .map(r => (r.getShort(0), r.get(1).toString, Option(r.getString(2)))).toSeq.sorted
    val lenient = tags()
    val before = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    val strict = try tags() finally before match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
    assert(strict == lenient)
    assert(strict.count(_._3.contains("Durée invalide")) == 2)
  }

  test("quality report of an all-anomalous input: valid metrics are NaN, null in the JSON") {
    val anomalous = fixture.filter(!col("fare_amount").isin(20.0, 10.0, 40.0, 21.0))
    val (valid, anoms) = TaxiPipeline.transform(TaxiPipeline.extract(anomalous))
    val r = TaxiPipeline.qualityReport(valid, anoms)
    assert(r.totalProcessed == 6 && r.anomalyCount == 6 && r.anomalyRatePct == 100.0)
    assert(r.avgTripDuration.isNaN && r.avgSpeed.isNaN && r.totalFareAmount.isNaN)
    val metrics = new ObjectMapper().readTree(r.json).get("data_quality_metrics")
    Seq("avg_trip_duration", "avg_speed", "total_fare_amount").foreach(m =>
      assert(metrics.get(m).isNull, s"$m in ${r.json}"))
  }

  test("quality report of an input with no anomalies: the details map is empty") {
    val clean = fixture.filter(col("fare_amount").isin(20.0, 10.0, 40.0, 21.0))
    val (valid, anoms) = TaxiPipeline.transform(TaxiPipeline.extract(clean))
    val r = TaxiPipeline.qualityReport(valid, anoms)
    assert(r.anomalyDetails.isEmpty && r.anomalyCount == 0 && r.anomalyRatePct == 0.0)
    assert(r.totalProcessed == 4) // 5 clean - 1 duplicate
    assert(r.avgTripDuration == (30 + 12 + 60 + 30) / 4.0)
    assert(new ObjectMapper().readTree(r.json).get("anomaly_details").size() == 0)
  }
}
