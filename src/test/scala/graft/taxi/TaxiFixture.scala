package graft.taxi

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The planted taxi fixture (FIXTURES.md §A): eleven raw trips with KNOWN
  * per-rule violations, a duplicate (pickup, dropoff) pair and an
  * unmatched payment type. */
object TaxiFixture {

  /** (vendor, pickup, dropoff, passengers, distance, PU, DO, ratecode,
    * payment, fare, total) rows — see comments for which rule each trips. */
  def trips(spark: SparkSession): DataFrame = {
    val rows = Seq[(Int, String, String, Int, Double, Int, Int, Int, Int, Double, Double)](
      // 3 clean trips (10 km/h-ish speeds, everything in range)
      (1, "2024-03-01 08:00:00", "2024-03-01 08:30:00", 2, 5.0, 10, 20, 1, 1, 20.0, 24.0),
      (2, "2024-03-01 13:00:00", "2024-03-01 13:12:00", 1, 2.0, 11, 21, 2, 2, 10.0, 11.0),
      (1, "2024-03-02 19:00:00", "2024-03-02 20:00:00", 3, 15.0, 12, 22, 1, 4, 40.0, 48.0),
      // Durée invalide: dropoff == pickup (duration 0)
      (1, "2024-03-03 10:00:00", "2024-03-03 10:00:00", 1, 3.0, 13, 23, 1, 1, 12.0, 14.0),
      // Durée invalide even though distance ALSO out of range (priority!)
      (1, "2024-03-03 11:00:00", "2024-03-03 10:59:00", 1, 500.0, 13, 23, 1, 1, 12.0, 14.0),
      // Distance hors limites (0.05 < 0.1)
      (2, "2024-03-04 09:00:00", "2024-03-04 09:10:00", 1, 0.05, 14, 24, 1, 2, 8.0, 9.0),
      // Montant de course invalide (fare <= 0), distance fine
      (1, "2024-03-05 09:00:00", "2024-03-05 09:20:00", 1, 4.0, 15, 25, 1, 1, 0.0, 0.0),
      // Passagers invalides (0 passengers)
      (1, "2024-03-06 09:00:00", "2024-03-06 09:20:00", 0, 4.0, 16, 26, 1, 1, 15.0, 17.0),
      // Vitesse irréaliste: 60 km in 10 min = 360 km/h
      (1, "2024-03-07 09:00:00", "2024-03-07 09:10:00", 1, 60.0, 17, 27, 1, 1, 90.0, 95.0),
      // duplicate (pickup, dropoff) of row 1 — dedup victim
      (2, "2024-03-01 08:00:00", "2024-03-01 08:30:00", 4, 5.5, 18, 28, 1, 2, 21.0, 25.0),
      // payment_type 5 → label null → silently dropped from the fact table
      (1, "2024-03-08 09:00:00", "2024-03-08 09:30:00", 1, 5.0, 19, 29, 99, 5, 20.0, 24.0)
    )
    import spark.implicits._
    rows.toDF("VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
      "trip_distance", "PULocationID", "DOLocationID", "RatecodeID", "payment_type",
      "fare_amount", "total_amount")
  }
}

/** The star-schema contract, checked against values read straight from
  * `valid`: each dim holds exactly its distinct values, every surrogate
  * key equals its value's key (epoch micros for time, the 1-based rank in
  * ascending order for location and payment), and the fact is `valid`
  * INNER-joined to the dims, so every fact key resolves and a row with no
  * dim row (null pickup, null payment_label) drops. */
object StarSchemaCheck extends org.scalatest.Assertions {
  import java.time.Instant
  import java.time.temporal.ChronoUnit
  import org.apache.spark.sql.functions.col

  private def bag[A](xs: Seq[A]): Map[A, Int] = xs.groupBy(identity).view.mapValues(_.size).toMap

  /** Fact rows whose `fk` has no `pk` in `dim`. */
  private def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String): Long =
    fact.join(dim.select(col(pk).as("__pk")), col(fk) === col("__pk"), "left_anti").count()

  def apply(valid: DataFrame): Unit = {
    val time = TaxiWarehouse.dimTime(valid)
    val loc = TaxiWarehouse.dimLocation(valid)
    val pay = TaxiWarehouse.dimPayment(valid)
    val fact = TaxiWarehouse.factTrips(valid)
    val rows = valid.select("tpep_pickup_datetime", "PULocationID", "DOLocationID",
      "payment_label").collect().toSeq

    val timeKeys = time.select("datetime", "time_pk").collect()
      .filterNot(_.isNullAt(0)).map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(timeKeys.keySet == rows.flatMap(r => Option(r.getTimestamp(0))).toSet)
    timeKeys.foreach { case (t, k) =>
      assert(k == ChronoUnit.MICROS.between(Instant.EPOCH, t.toInstant), s"time_pk of $t")
    }
    def ranks[A: Ordering](values: Seq[A]): Seq[(A, Int)] =
      values.distinct.sorted.zipWithIndex.map { case (v, i) => v -> (i + 1) }
    val locKeys = loc.select("location_id", "location_pk").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toSeq
    assert(locKeys.sortBy(_._1) ==
      ranks(rows.flatMap(r => Seq(r.getShort(1).toInt, r.getShort(2).toInt))))
    val payKeys = pay.select("payment_type", "payment_pk").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toSeq
    assert(payKeys.sortBy(_._1) == ranks(rows.flatMap(r => Option(r.getString(3)))))

    assert(orphans(fact, "time_pk", time, "time_pk") == 0)
    assert(orphans(fact, "pickup_loc_pk", loc, "location_pk") == 0)
    assert(orphans(fact, "dropoff_loc_pk", loc, "location_pk") == 0)
    assert(orphans(fact, "payment_pk", pay, "payment_pk") == 0)

    val (locOf, payOf) = (locKeys.toMap, payKeys.toMap)
    val joined = rows.flatMap(r => for {
      t <- Option(r.getTimestamp(0)).flatMap(timeKeys.get)
      pu <- locOf.get(r.getShort(1).toInt)
      dof <- locOf.get(r.getShort(2).toInt)
      p <- Option(r.getString(3)).flatMap(payOf.get)
    } yield (t, pu, dof, p))
    val got = fact.select("time_pk", "pickup_loc_pk", "dropoff_loc_pk", "payment_pk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    assert(bag(got) == bag(joined))
  }
}
