package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, TimestampType}

/** Haversine great-circle distance in meters on the WGS84 mean-radius
  * sphere — a native Catalyst expression with full codegen, so it fuses
  * into whole-stage-generated join/filter loops (a Scala UDF here would
  * break codegen exactly where the spatial joins are hottest).
  *
  * Formula and radius follow the reference's metric
  * (`spatial/src/main/com/thymeflow/spatial/geographic/metric/models/
  * WGS84SphereHaversinePointMetric.scala:11-19`): 2R·asin(√(sin²(Δφ/2) +
  * cosφ₁·cosφ₂·sin²(Δλ/2))), R = 6 371 008.8 m (IUGG mean radius).
  */
case class Haversine(lat1: Expression, lon1: Expression, lat2: Expression, lon2: Expression)
    extends QuaternaryExpression {

  override def first: Expression = lat1
  override def second: Expression = lon1
  override def third: Expression = lat2
  override def fourth: Expression = lon2

  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    lat1.nullable || lon1.nullable || lat2.nullable || lon2.nullable

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Haversine.distanceMeters(
      a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la1, lo1, la2, lo2) =>
      s"graft.functions.Haversine.distanceMeters($la1, $lo1, $la2, $lo2)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(lat1 = newFirst, lon1 = newSecond, lat2 = newThird, lon2 = newFourth)
}

object Haversine {
  /** IUGG mean Earth radius, as in the reference's geodesics calculator. */
  val EarthRadiusMeters: Double = 6371008.8

  def distanceMeters(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val sLat = math.sin(dLat / 2)
    val sLon = math.sin(dLon / 2)
    val a = sLat * sLat +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * sLon * sLon
    2.0 * EarthRadiusMeters * math.asin(math.min(1.0, math.sqrt(a)))
  }
}

/** Millisecond duration between two timestamps (reference
  * `core/src/main/com/thymeflow/rdf/query/algebra/evaluation/function/
  * DurationInMillis.scala:11-29`) as a codegen'd expression: timestamps are
  * micros-since-epoch longs internally, so this is a subtraction+division —
  * exact, no object allocation. */
case class DurationMillis(start: Expression, end: Expression)
    extends BinaryExpression {

  override def left: Expression = start
  override def right: Expression = end
  override def dataType: DataType = LongType

  override protected def nullSafeEval(s: Any, e: Any): Any =
    (e.asInstanceOf[Long] - s.asInstanceOf[Long]) / 1000L

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, e) => s"(($e - $s) / 1000L)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(start = l, end = r)
}

/** Column-level entry points for the custom expressions, which
  * [[graft.plans.GraftExtensions]] registers (the engine's analogue of the
  * reference's FunctionRegistry additions at
  * `core/src/main/com/thymeflow/rdf/repository/RepositoryFactory.scala:248-251`). */
object GeoTimeFunctions {
  import org.apache.spark.sql.functions.{call_function, lit}

  def haversineMeters(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    call_function("haversine_m", lat1.cast("double"), lon1.cast("double"),
      lat2.cast("double"), lon2.cast("double"))

  def durationMillis(start: Column, end: Column): Column =
    call_function("duration_ms", start.cast("timestamp"), end.cast("timestamp"))

  /** xsd:duration-style day-time interval (reference Duration.scala). */
  def duration(start: Column, end: Column): Column = {
    import org.apache.spark.sql.functions.{expr => _, _}
    make_dt_interval(lit(0), lit(0), lit(0),
      (unix_micros(end.cast("timestamp")) - unix_micros(start.cast("timestamp")))
        .cast("double") / 1000000d)
  }
}
