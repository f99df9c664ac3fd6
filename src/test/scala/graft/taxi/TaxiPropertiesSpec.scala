package graft.taxi

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties (SURVEY.md §5): for RANDOM taxi-shaped inputs, the
  * pipeline invariants hold — split is a partition, every anomaly violates
  * its named rule, priority follows the reference order, report totals add
  * up. A scalar reference implementation of the rule cascade provides the
  * independent prediction. (Generators drawn directly with fixed seeds —
  * the scalatest/scalacheck bridge isn't in the offline dep cache.)
  */
class TaxiPropertiesSpec extends SparkSpec {

  private def draw[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  case class TripGen(vendor: Int, pickupOffsetMin: Int, durationMin: Int, passengers: Int,
      distance: Double, pu: Int, doLoc: Int, ratecode: Int, payment: Int,
      fare: Double, total: Double)

  private val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime

  private val tripGen: Gen[TripGen] = for {
    vendor <- Gen.choose(1, 2)
    off <- Gen.choose(0, 60 * 24 * 30)
    dur <- Gen.oneOf(Gen.choose(-10, 0), Gen.choose(1, 180)) // plant bad durations
    pax <- Gen.oneOf(Gen.const(0), Gen.choose(1, 6))
    dist <- Gen.oneOf(Gen.choose(0.0, 0.09), Gen.choose(0.1, 100.0), Gen.choose(101.0, 500.0))
    pu <- Gen.choose(1, 265); dol <- Gen.choose(1, 265)
    rc <- Gen.oneOf(1, 2, 3, 4, 5, 6, 99)
    pay <- Gen.oneOf(1, 2, 3, 4, 5)
    fare <- Gen.oneOf(Gen.choose(-20.0, 0.0), Gen.choose(0.5, 200.0))
    tip <- Gen.choose(0.0, 40.0)
  } yield TripGen(vendor, off, dur, pax, dist, pu, dol, rc, pay, fare, fare + tip)

  /** Scalar reference of the rule cascade (priority order from
    * `transform.py:47-53`), independent of the Spark implementation. */
  private def expectedReason(t: TripGen): Option[String] = {
    val durMin = t.durationMin.toDouble
    if (durMin <= 0) Some("Durée invalide")
    else if (t.distance < 0.1 || t.distance > 100) Some("Distance hors limites")
    else if (t.fare <= 0) Some("Montant de course invalide")
    else if (t.passengers <= 0) Some("Passagers invalides")
    else {
      // speed computable only here (durMin > 0 guaranteed; Infinity earlier
      // would be caught by the duration rule exactly as in the reference)
      val speed = BigDecimal(t.distance / (durMin / 60.0))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (speed < 1 || speed > 100) Some("Vitesse irréaliste") else None
    }
  }

  private def toDf(trips: List[TripGen]) = {
    import spark.implicits._
    trips.map { t =>
      val pickup = new Timestamp(base + t.pickupOffsetMin * 60000L)
      val dropoff = new Timestamp(pickup.getTime + t.durationMin * 60000L)
      (t.vendor, pickup, dropoff, t.passengers, t.distance, t.pu, t.doLoc, t.ratecode,
        t.payment, t.fare, t.total)
    }.toDF("VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
      "trip_distance", "PULocationID", "DOLocationID", "RatecodeID", "payment_type",
      "fare_amount", "total_amount")
  }

  test("random inputs: split partitions; every reason matches the scalar reference") {
    for (seed <- 1L to 5L) {
      val trips = draw(Gen.listOfN(120, tripGen), seed)
      val tagged = TaxiPipeline.tagAnomalies(
        TaxiPipeline.calculateMetrics(TaxiPipeline.extract(toDf(trips))))
      val v = TaxiPipeline.validTrips(tagged).count()
      val a = TaxiPipeline.anomalies(tagged).count()
      assert(v + a == trips.length)
      // per-reason counts equal the scalar reference's prediction
      val got = TaxiPipeline.anomalies(tagged)
        .groupBy("rejection_reason").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = trips.flatMap(expectedReason).groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want, s"seed $seed: got $got want $want")
    }
  }

  test("random inputs: report totals are consistent with the split") {
    for (seed <- 10L to 12L) {
      val trips = draw(Gen.listOfN(60, tripGen), seed)
      val (valid, anoms) = TaxiPipeline.transform(TaxiPipeline.extract(toDf(trips)))
      val r = TaxiPipeline.qualityReport(valid, anoms)
      assert(r.totalProcessed == valid.count() + anoms.count())
      assert(r.anomalyDetails.values.sum == r.anomalyCount)
      assert(r.anomalyRatePct >= 0.0 && r.anomalyRatePct <= 100.0)
    }
  }

  test("random inputs: star-schema keys resolve and equal their values' keys") {
    for (seed <- 20L to 22L) {
      val trips = draw(Gen.listOfN(80, tripGen), seed)
      val (valid, _) = TaxiPipeline.transform(TaxiPipeline.extract(toDf(trips)))
      // cached so the dims, the fact and the check read the same kept rows
      val kept = valid.cache()
      try StarSchemaCheck(kept) finally kept.unpersist()
    }
  }

  test("random inputs: the one-aggregate report equals the two-aggregate formula") {
    for (seed <- 30L to 32L) {
      val trips = draw(Gen.listOfN(80, tripGen), seed)
      val (v0, a0) = TaxiPipeline.transform(TaxiPipeline.extract(toDf(trips)))
      // cached so both formulas read the same rows kept by the dedup
      val (valid, anoms) = (v0.cache(), a0.cache())
      try {
        val r = TaxiPipeline.qualityReport(valid, anoms)
        val v = valid.agg(count(lit(1)), avg("trip_duration"), avg("avg_speed"),
          sum("fare_amount")).head()
        val detail = anoms.groupBy("rejection_reason").count()
          .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
        assert(r.anomalyDetails == detail, s"seed $seed")
        assert(r.anomalyCount == detail.values.sum)
        assert(r.totalProcessed == v.getLong(0) + detail.values.sum)
        Seq(r.avgTripDuration -> 1, r.avgSpeed -> 2, r.totalFareAmount -> 3).foreach {
          case (got, i) =>
            val want = v.getDouble(i)
            assert(math.abs(got - want) <= 1e-9 * math.abs(want), s"seed $seed: $got vs $want")
        }
      } finally { valid.unpersist(); anoms.unpersist() }
    }
  }
}
