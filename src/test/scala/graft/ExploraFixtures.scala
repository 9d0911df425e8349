package graft

import graft.functions.GeoFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Readings shared by the service and HTTP facade specs. */
object ExploraFixtures {
  import SparkTestBase._

  /** The instant every [[worldReadings]] row is read at. */
  val snapTs: Long = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli

  // quadkeys of the north-west quadrant start with 0; their all-digit
  // geo_part directories would be inferred as integers ("03201" → 3201)
  val worldPoints: Seq[(Double, Double)] = Seq(
    (40.71, -74.00), (41.88, -87.63), (47.61, -122.33), (19.43, -99.13), // 0…
    (51.22, 4.40), (-33.87, 151.21)) // 1…, 3…

  /** One `signup` reading of value i + 1 at each of [[worldPoints]], at
    * [[snapTs]].
    */
  lazy val worldReadings: DataFrame = {
    import spark.implicits._
    val ts = new java.sql.Timestamp(snapTs)
    worldPoints.zipWithIndex.map { case ((lat, lon), i) => (lat, lon, ts, i + 1.0) }
      .toDF("lat", "lon", "ts", "value")
      .select(
        lit("signup").as("metric"), col("ts"), col("value"),
        GeoFunctions.geohash_encode(col("lat"), col("lon"), 12).as("gh12"),
        GeoFunctions.quadkey(col("lat"), col("lon"), 14).as("qk14"))
      .cache()
  }
}
