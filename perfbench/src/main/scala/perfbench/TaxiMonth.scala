package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.taxi.{Analytics, Cleaning, Features, PipelineBench, TaxiFixture, TaxiGoldens,
  TaxiSchema}

/** Seeded synthetic January: `PipelineBench.monthRaw` (the 22
  * [[TaxiFixture]] scenarios × `copies`, each copy moved to its own minute
  * of the month with its duration kept to the second), with the pickup
  * hour and the pickup and dropoff zones re-drawn per row from the seed.
  *
  * The hour moves within the copy's day and the dropoff moves with it, so
  * durations stay exact; cleaning reads durations, amounts and codes only,
  * so every stage count is still the fixture's count times `copies`
  * ([[checkProportional]]). The draws are fitted to what the repo records
  * about the real January 2024 (TaxiGoldens, BASELINE.md), and
  * [[checkFacts]] checks the generated month against those figures:
  *
  *  - hours: each time-of-day slot gets its share of the cleaned trips in
  *    `TaxiGoldens.Q5Congestion`, spread evenly over the slot's hours;
  *  - pickups: `TaxiGoldens.AirportShare` of the trips start at an airport;
  *    the raw month has 260 distinct pickup and 261 distinct dropoff zones;
  *  - routes: Q7's two busiest peak-slot routes are 237→236 and 236→237.
  *
  * Not recorded, so chosen here: the two top routes' shares
  * ([[TopRouteShares]]), the split among the three airports and the
  * power-law skew of the other zones (density ~ rank^-[[Skew]] over a
  * seeded order of the zone ids).
  */
object TaxiMonth {
  val Zones = 265
  /** Distinct PULocationID / DOLocationID of the raw month (BASELINE.md). */
  val PickupZones = 260
  val DropoffZones = 261
  val TopRoutes: Seq[(Int, Int)] = TaxiGoldens.Q7TopTwoRoutes
  val TopRouteShares: Seq[Double] = Seq(0.012, 0.010)
  val Skew = 0.6

  /** A discrete distribution sampled by a 64-bit hash. */
  final class Draw(weights: Seq[(Int, Double)]) extends Serializable {
    private val values = weights.map(_._1).toArray
    private val upper = weights.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(_ / weights.map(_._2).sum).toArray

    def apply(h: Long): Int = {
      val u = (h >>> 11) * (1.0 / (1L << 53))
      val i = java.util.Arrays.binarySearch(upper, u)
      values(if (i >= 0) i + 1 else -i - 1)
    }
  }

  private def powerLaw(zones: Seq[Int], mass: Double): Seq[(Int, Double)] = {
    val w = zones.indices.map(r => math.pow(r + 1.0, -Skew))
    zones.zip(w.map(_ * mass / w.sum))
  }

  /** Hour of day → slot, by the program's own slot rule. */
  private def slotOfHour(spark: SparkSession): Map[Int, String] =
    Features.withTimeFeatures(spark.range(24)
        .select(timestamp_seconds(col("id") * 3600).as("tpep_pickup_datetime")))
      .collect().map(r => r.getAs[Int]("pickup_hour_of_day") -> r.getAs[String]("time_of_day_slot"))
      .toMap

  private def hourDraw(spark: SparkSession): Draw = {
    val slots = slotOfHour(spark)
    val hours = slots.groupBy(_._2).map { case (s, hs) => s -> hs.size }
    new Draw((0 until 24).map { h =>
      h -> TaxiGoldens.Q5Congestion(slots(h))._3.toDouble / hours(slots(h))
    })
  }

  /** Pickup draw. The values -1 and -2 stand for the two top routes,
    * whose dropoff is fixed; any other value is a pickup zone.
    */
  private def pickupDraw(seed: Long): Draw = {
    val (a, b) = (TopRoutes.head._1, TopRoutes.head._2)
    val airports = TaxiSchema.airportIds.sortBy(Seq(132, 138, 1).indexOf(_))
    val others = new scala.util.Random(seed).shuffle(
      (1 to Zones).filterNot(z => airports.contains(z) || z == a || z == b))
    val airportMass = TaxiGoldens.AirportShare / 100
    val streets = Seq(a, b) ++ others.take(PickupZones - airports.size - 2)
    new Draw(Seq(-1 -> TopRouteShares(0), -2 -> TopRouteShares(1)) ++
      powerLaw(airports, airportMass) ++
      powerLaw(streets, 1 - airportMass - TopRouteShares.sum))
  }

  private def dropoffDraw(seed: Long): Draw = {
    val (a, b) = (TopRoutes.head._1, TopRoutes.head._2)
    val others = new scala.util.Random(seed + 1).shuffle(
      (1 to Zones).filterNot(z => z == a || z == b))
    new Draw(powerLaw(Seq(b, a) ++ others.take(DropoffZones - 2), 1.0))
  }

  def raw(spark: SparkSession, copies: Long, seed: Long): DataFrame = {
    val month = PipelineBench.monthRaw(spark, copies)
    def hash(salt: String): Column =
      xxhash64((lit(seed) +: lit(salt) +: month.columns.toSeq.map(col)): _*)
    val hourOf = udf(hourDraw(spark).apply _)
    val pickupOf = udf(pickupDraw(seed).apply _)
    val dropoffOf = udf(dropoffDraw(seed).apply _)
    val p = col("tpep_pickup_datetime")
    val d = col("tpep_dropoff_datetime")
    val route = TopRoutes.zipWithIndex.map { case (r, i) => -(i + 1) -> r }.toMap
    month
      .withColumn("__dur", unix_timestamp(d) - unix_timestamp(p))
      .withColumn("__pick", pickupOf(hash("pu")))
      .withColumn("__drop", dropoffOf(hash("do")))
      .withColumn("__p", timestamp_add("MINUTE", hourOf(hash("hour")) * 60 + minute(p),
        date_trunc("DAY", p)))
      .select(TaxiSchema.raw.fieldNames.map {
        case "tpep_pickup_datetime"  => col("__p").as("tpep_pickup_datetime")
        case "tpep_dropoff_datetime" =>
          timestamp_add("SECOND", col("__dur"), col("__p")).as("tpep_dropoff_datetime")
        case "PULocationID" => route.foldLeft(col("__pick")) { case (c, (k, r)) =>
          when(col("__pick") === k, r._1).otherwise(c) }.cast("int").as("PULocationID")
        case "DOLocationID" => route.foldLeft(col("__drop")) { case (c, (k, r)) =>
          when(col("__pick") === k, r._2).otherwise(c) }.cast("int").as("DOLocationID")
        case other => col(other)
      }.toIndexedSeq: _*)
  }

  /** The shipped (non-strict) cleaning chain, split at its two stages. */
  def valid(raw: DataFrame): DataFrame =
    Cleaning.filterValidDistance(Cleaning.filterValidSpeed(Cleaning.withDuration(raw)))

  def clean(raw: DataFrame): DataFrame =
    Cleaning.filterPassengers(Cleaning.filterFareBand(Cleaning.fixNegativeAmounts(
      Cleaning.triageZeroDistance(valid(raw)))))

  /** The features of a cleaned frame, as `Cleaning.pipeline` adds them. */
  def features(cleaned: DataFrame): DataFrame =
    Features.withDateParts(Features.withTimeFeatures(Features.withAverageSpeed(
      Cleaning.castTypes(cleaned))))

  /** The whole batch: cleaning, features, partition columns. */
  def featured(raw: DataFrame): DataFrame = Features.withDateParts(Cleaning.pipeline(raw))

  /** Rows at each stage, counted in one query. */
  def stageCounts(raw: DataFrame): Seq[(String, Long)] = {
    val stages = Seq("raw" -> raw, "valid_speed_distance" -> valid(raw),
      "cleaned" -> clean(raw), "featured" -> featured(raw))
    val counts = stages.map { case (n, df) => df.select(lit(n).as("stage")) }
      .reduce(_ union _).groupBy("stage").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    stages.map { case (n, _) => n -> counts.getOrElse(n, 0L) }
  }

  /** Every stage count must equal the fixture's count times `copies`;
    * returns the mismatches (empty when proportional) and the counts.
    */
  def checkProportional(spark: SparkSession, month: DataFrame, copies: Long)
      : (Seq[String], Seq[(String, Long)]) = {
    val golden = stageCounts(TaxiFixture.raw(spark))
    val counts = stageCounts(month)
    val bad = counts.zip(golden).collect {
      case ((n, c), (_, g)) if c != g * copies => s"$n: $c != $g x $copies"
    }
    (bad, counts)
  }

  /** The generated month against the recorded facts it is fitted to:
    * distinct zones of the raw month, and on the featured month the
    * airport share (within 0.5 points), each slot's share of trips (within
    * one point) and Q7's two top routes. Returns the mismatches and the
    * measured figures.
    */
  def checkFacts(raw: DataFrame, featured: DataFrame): (Seq[String], Map[String, Any]) = {
    val zones = raw.agg(countDistinct("PULocationID"), countDistinct("DOLocationID")).head()
    val share = Analytics.airportPickupShare(featured)
    val slots = Analytics.q5Congestion(featured).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val n = slots.values.sum.toDouble
    val total = TaxiGoldens.Q5Congestion.values.map(_._3).sum.toDouble
    val top = Analytics.q7TopRoutes(featured).limit(2).collect()
      .map(r => (r.getAs[Number]("PULocationID").intValue, r.getAs[Number]("DOLocationID").intValue))
      .toSeq
    val shares = TaxiGoldens.Q5Congestion.keys.map(s => s -> slots.getOrElse(s, 0L) / n).toMap
    val bad = Seq(
      Option.when(zones.getLong(0) != PickupZones)(s"pickup zones ${zones.getLong(0)}"),
      Option.when(zones.getLong(1) != DropoffZones)(s"dropoff zones ${zones.getLong(1)}"),
      Option.when(math.abs(share - TaxiGoldens.AirportShare) > 0.5)(f"airport share $share%.2f%%"),
      Option.when(top != TopRoutes)(s"Q7 top routes $top")) ++
      TaxiGoldens.Q5Congestion.toSeq.map { case (s, (_, _, c)) =>
        Option.when(math.abs(shares(s) - c / total) > 0.01)(f"slot $s share ${shares(s)}%.3f")
      }
    (bad.flatten, Map("pickup_zones" -> zones.getLong(0), "dropoff_zones" -> zones.getLong(1),
      "airport_share_pct" -> share, "slot_shares" -> shares,
      "q7_top_routes" -> top.map { case (a, b) => s"$a->$b" }))
  }

  val PartitionCols = Seq("pickup_year", "pickup_month", "pickup_day")
  val SortCols = Seq("PULocationID", "DOLocationID")
}
