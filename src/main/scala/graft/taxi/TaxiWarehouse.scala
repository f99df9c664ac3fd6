package graft.taxi

import graft.warehouse.StarSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's star-schema load (`Scripts_ETL/load.py`) over the
  * transformed taxi frame. Surrogate keys are generated engine-side,
  * erasing the reference's insert-then-read-back round trip
  * (`load.py:121-152`): `time_pk` is arithmetic on the pickup timestamp,
  * and a location or payment key is its value's rank, read from one
  * global aggregate (`keys`). The fact computes all four keys in place, in
  * one shuffle-free scan beside that broadcast one-row aggregate: no
  * lookup joins.
  */
object TaxiWarehouse {

  /** dim_time (load.py:19-26 + 114-117): distinct pickup datetimes with
    * time features. Keyed arithmetically (epoch micros) — pickup
    * timestamps are second-grain, so this dim is ~O(fact rows) and a
    * global row_number window would serialize it through one task. */
  def dimTime(valid: DataFrame): DataFrame =
    valid.select(col("tpep_pickup_datetime").as("datetime"), col("day_of_week"),
        col("time_period"))
      .distinct()
      .withColumn("hour", hour(col("datetime")).cast("smallint"))
      .withColumn("time_pk", StarSchema.timeKey(col("datetime")))
      .select("time_pk", "datetime", "hour", "day_of_week", "time_period")

  /** The sorted distinct location ids (PU ∪ DO) and payment labels of
    * `valid`, as two arrays from one global aggregate. A dim key is the
    * 1-based position of its value in the array, i.e. its rank in
    * ascending order: what `distinct` plus a `row_number` window gives,
    * without the single-partition sort. `collect_set` skips nulls, so a
    * null value gets no key: a null label (unmatched payment type), or a
    * null id, which `TaxiPipeline.extract` never leaves. */
  private def keys(valid: DataFrame): DataFrame =
    valid.agg(
      array_sort(array_union(collect_set(col("PULocationID").cast("int")),
        collect_set(col("DOLocationID").cast("int")))).as("location_ids"),
      array_sort(collect_set(col("payment_label"))).as("payment_types"))

  /** dim_location (load.py:28-33 + 127-130): PU ∪ DO ids, borough default. */
  def dimLocation(valid: DataFrame): DataFrame =
    keys(valid).select(posexplode(col("location_ids")).as(Seq("pos", "location_id")))
      .select((col("pos") + 1).as("location_pk"), col("location_id"), lit("Inconnu").as("borough"))

  /** dim_payment (load.py:35-40 + 139-146): distinct non-null labels. */
  def dimPayment(valid: DataFrame): DataFrame =
    keys(valid).select(posexplode(col("payment_types")).as(Seq("pos", "payment_type")))
      .select((col("pos") + 1).as("payment_pk"), col("payment_type"))

  /** fact_trips (load.py:43-60 + 155-221). Each key is computed in place:
    * `time_pk` from the pickup as dim_time computes it, the location and
    * payment keys as positions in the one-row `keys` frame, broadcast to
    * every row. A row whose value has no dim row (null pickup, null
    * payment_label) is dropped, as the reference's INNER merge drops it
    * (`load.py:168-172`). Measures keep the NUMERIC(8,2) DECIMAL contract
    * at this, the sink boundary. */
  def factTrips(valid: DataFrame): DataFrame = {
    // 1-based position of v, 0 when it has none (not found, or null)
    def pk(values: String, v: Column): Column =
      coalesce(array_position(col(values), v), lit(0)).cast("int")
    valid.crossJoin(broadcast(keys(valid)))
      .select(StarSchema.timeKey(col("tpep_pickup_datetime")).as("time_pk"),
        pk("location_ids", col("PULocationID").cast("int")).as("pickup_loc_pk"),
        pk("location_ids", col("DOLocationID").cast("int")).as("dropoff_loc_pk"),
        pk("payment_types", col("payment_label")).as("payment_pk"),
        col("passenger_count").cast("smallint").as("passenger_count"),
        col("trip_distance").cast("decimal(8,2)").as("trip_distance"),
        col("fare_amount").cast("decimal(8,2)").as("fare_amount"),
        col("total_amount").cast("decimal(8,2)").as("total_amount"),
        col("trip_duration").cast("decimal(8,2)").as("duration_min"),
        col("avg_speed").cast("decimal(8,2)").as("avg_speed"))
      .filter(col("time_pk").isNotNull && col("pickup_loc_pk") > 0 &&
        col("dropoff_loc_pk") > 0 && col("payment_pk") > 0)
  }
}
