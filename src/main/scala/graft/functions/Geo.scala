package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar geo/math functions as pure Column expressions — codegen'd,
  * pushdown-transparent; deliberately NOT UDFs (SURVEY §2.8 F1-F5,
  * §2.11). The hot scalar of the reference
  * (/root/reference/src/Utils.jl:75-86) re-derived from the standard
  * haversine formula.
  */
object Geo {

  val EarthRadiusMeters = 6371000.0

  /** F1: haversine great-circle distance in meters, as one expression
    * tree (sin/cos/atan2 built-ins -> whole-stage codegen).
    */
  def haversineMeters(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a =
      pow(sin(dLat / 2), 2) +
        cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * EarthRadiusMeters) * atan2(sqrt(a), sqrt(lit(1.0) - a))
  }
}
