package graft.spatial.cell

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the spatial hot path (north_star:
  * "codegen-friendly UDFs for batched cell encode and PIP"). Each
  * generates a static call into CellMath/GeomEval from within whole-stage
  * codegen — no UDF serialization, no boxing, null-safety handled by
  * nullSafeCodeGen.
  */
case class CellOfExpr(lonExpr: Expression, latExpr: Expression, resExpr: Expression)
    extends TernaryExpression {
  override def first: Expression = lonExpr
  override def second: Expression = latExpr
  override def third: Expression = resExpr
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_of"

  override protected def nullSafeEval(lon: Any, lat: Any, res: Any): Any =
    CellMath.cellOf(lon.asInstanceOf[Double], lat.asInstanceOf[Double], res.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, res) =>
      s"graft.spatial.cell.CellMath$$.MODULE$$.cellOf($lon, $lat, $res)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

case class CellZExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_z"
  override protected def nullSafeEval(cell: Any): Any = CellMath.zValue(cell.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spatial.cell.CellMath$$.MODULE$$.zValue($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class CellParentExpr(cellExpr: Expression, resExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = cellExpr
  override def right: Expression = resExpr
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_parent"
  override protected def nullSafeEval(cell: Any, res: Any): Any =
    CellMath.parentAt(cell.asInstanceOf[Long], res.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, r) => s"graft.spatial.cell.CellMath$$.MODULE$$.parentAt($c, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class HaversineExpr(lon1: Expression, lat1: Expression, lon2: Expression, lat2: Expression)
    extends QuaternaryExpression {
  override def first: Expression = lon1
  override def second: Expression = lat1
  override def third: Expression = lon2
  override def fourth: Expression = lat2
  override def dataType: DataType = DoubleType
  override def prettyName: String = "haversine_m"
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    CellMath.haversineMeters(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.spatial.cell.CellMath$$.MODULE$$.haversineMeters($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression, d: Expression): Expression =
    copy(a, b, c, d)
}

/** Evaluation helpers shared by interpreted + generated code. Operate
  * directly on Catalyst ArrayData (no row conversion). */
object GeomEval {
  /** Even-odd ray casting over multiple rings (outer + holes):
    * point is inside iff it crosses an odd number of edges in total.
    * rings: ARRAY<ARRAY<STRUCT<lon DOUBLE, lat DOUBLE>>>. Rings may be
    * explicitly closed (first==last) or not; the algorithm treats them as
    * closed either way. Reference semantics: C12 (SURVEY.md §2.6).
    */
  def pipRings(lon: Double, lat: Double, rings: ArrayData): Boolean = {
    var inside = false
    var ri = 0
    val nRings = rings.numElements()
    while (ri < nRings) {
      val ring = rings.getArray(ri)
      // a NULL ring element (hostile/garbage geometry) is SKIPPED, exactly
      // like a ring with < 3 points — dereferencing it NPE'd the whole
      // stage from inside generated code; nullSafeEval guards only the
      // top-level arguments, not array elements
      val n = if (ring == null) 0 else ring.numElements()
      if (n >= 3) {
        var i = 0
        var j = n - 1
        // skip duplicate closing point so the implicit closing edge isn't counted twice
        val last = ring.getStruct(n - 1, 2)
        val first = ring.getStruct(0, 2)
        val effN = if (n > 3 && last != null && first != null &&
          last.getDouble(0) == first.getDouble(0) &&
          last.getDouble(1) == first.getDouble(1)) n - 1 else n
        j = effN - 1
        while (i < effN) {
          val pi = ring.getStruct(i, 2)
          val pj = ring.getStruct(j, 2)
          // a null POINT (garbage geometry) drops its two incident edges
          // rather than NPE-ing the stage
          if (pi != null && pj != null) {
            val xi = pi.getDouble(0); val yi = pi.getDouble(1)
            val xj = pj.getDouble(0); val yj = pj.getDouble(1)
            if (((yi > lat) != (yj > lat)) &&
                (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) inside = !inside
          }
          j = i
          i += 1
        }
      }
      ri += 1
    }
    inside
  }

  /** Liang–Barsky: does segment (x1,y1)-(x2,y2) meet the closed rectangle
    * [minX,maxX]×[minY,maxY]? Step i clips the segment's parameter
    * interval [t0, t1] against one side: p is the segment's rate toward it,
    * q its start's distance inside it. p and q are picked per step, so the
    * cover's cells × edges loop allocates nothing. */
  def segmentIntersectsRect(x1: Double, y1: Double, x2: Double, y2: Double,
      minX: Double, minY: Double, maxX: Double, maxY: Double): Boolean = {
    val dx = x2 - x1
    val dy = y2 - y1
    var t0 = 0.0
    var t1 = 1.0
    var i = 0
    while (i < 4) {
      val p = if (i == 0) -dx else if (i == 1) dx else if (i == 2) -dy else dy
      val q = if (i == 0) x1 - minX else if (i == 1) maxX - x1 else if (i == 2) y1 - minY else maxY - y1
      if (p == 0.0) {
        if (q < 0.0) return false
      } else {
        val r = q / p
        if (p < 0.0) { if (r > t1) return false; if (r > t0) t0 = r }
        else { if (r < t0) return false; if (r < t1) t1 = r }
      }
      i += 1
    }
    true
  }

  /** Is `f` true for some edge (point i → point (i+1) mod n) of a ring of
    * at least 2 points? Null rings and edges with a null end are skipped. */
  private def existsEdge(rings: ArrayData)(f: (InternalRow, InternalRow) => Boolean): Boolean = {
    var ri = 0
    while (ri < rings.numElements()) {
      val ring = rings.getArray(ri)
      val n = if (ring == null) 0 else ring.numElements()
      var i = 0
      while (n >= 2 && i < n) {
        val a = ring.getStruct(i, 2)
        val b = ring.getStruct((i + 1) % n, 2)
        if (a != null && b != null && f(a, b)) return true
        i += 1
      }
      ri += 1
    }
    false
  }

  /** The polygon cover at `res`, as (cell, interior) rows: every cell over
    * the extent of the rings' edges that an edge meets (closed rectangle)
    * or whose center is inside ([[pipRings]]). `interior` = center inside
    * and no edge meets the cell, so every point of its rectangle has the
    * center's even-odd answer. */
  def polygonCells(rings: ArrayData, res: Int): ArrayData = {
    // NaN coordinates fail every comparison and stay out of the extent
    var minLon = Double.PositiveInfinity; var minLat = minLon
    var maxLon = Double.NegativeInfinity; var maxLat = maxLon
    def extend(p: InternalRow): Unit = {
      val lon = p.getDouble(0); val lat = p.getDouble(1)
      if (lon < minLon) minLon = lon; if (lon > maxLon) maxLon = lon
      if (lat < minLat) minLat = lat; if (lat > maxLat) maxLat = lat
    }
    existsEdge(rings) { (a, b) => extend(a); extend(b); false } // visits every edge
    val out = Array.newBuilder[Any]
    CellMath.coverBBox(minLon, minLat, maxLon, maxLat, res).foreach { cell =>
      val (x0, y0, x1, y1) = CellMath.bounds(cell)
      if (existsEdge(rings)((a, b) => segmentIntersectsRect(
          a.getDouble(0), a.getDouble(1), b.getDouble(0), b.getDouble(1), x0, y0, x1, y1)))
        out += InternalRow(cell, false)
      else if (pipRings((x0 + x1) / 2, (y0 + y1) / 2, rings)) out += InternalRow(cell, true)
    }
    new GenericArrayData(out.result())
  }

  /** Scala-side PIP over plain arrays (tests, assembly). */
  def pip(lon: Double, lat: Double, rings: Seq[Seq[(Double, Double)]]): Boolean = {
    var inside = false
    rings.foreach { ringRaw =>
      val ring = if (ringRaw.length > 3 && ringRaw.head == ringRaw.last) ringRaw.dropRight(1) else ringRaw
      if (ring.length >= 3) {
        var i = 0
        var j = ring.length - 1
        while (i < ring.length) {
          val (xi, yi) = ring(i)
          val (xj, yj) = ring(j)
          if (((yi > lat) != (yj > lat)) && (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi))
            inside = !inside
          j = i
          i += 1
        }
      }
    }
    inside
  }
}

case class PointInPolygonExpr(lonExpr: Expression, latExpr: Expression, ringsExpr: Expression)
    extends TernaryExpression {
  override def first: Expression = lonExpr
  override def second: Expression = latExpr
  override def third: Expression = ringsExpr
  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_in_polygon"

  override protected def nullSafeEval(lon: Any, lat: Any, rings: Any): Any =
    GeomEval.pipRings(lon.asInstanceOf[Double], lat.asInstanceOf[Double], rings.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, rings) =>
      s"graft.spatial.cell.GeomEval$$.MODULE$$.pipRings($lon, $lat, $rings)")

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

/** The one polygon cover ([[GeomEval.polygonCells]]), used by the PIP join
  * and tile assignment. */
case class PolygonCellsExpr(ringsExpr: Expression, resExpr: Expression)
    extends BinaryExpression {
  override def left: Expression = ringsExpr
  override def right: Expression = resExpr
  override def dataType: DataType = ArrayType(StructType(Seq(StructField("cell", LongType, nullable = false),
    StructField("interior", BooleanType, nullable = false))), containsNull = false)
  override def prettyName: String = "polygon_cells"
  override protected def nullSafeEval(rings: Any, res: Any): Any =
    GeomEval.polygonCells(rings.asInstanceOf[ArrayData], res.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (rings, res) => s"graft.spatial.cell.GeomEval$$.MODULE$$.polygonCells($rings, $res)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Column-level API, mirroring org.apache.spark.sql.functions style. */
object functions {
  private def e(c: Column): Expression = ColumnBridge.expression(c)
  private def col(x: Expression): Column = ColumnBridge.column(x)
  private def dbl(c: Column): Expression = Cast(e(c), DoubleType)

  def cell_of(lon: Column, lat: Column, res: Column): Column =
    col(CellOfExpr(dbl(lon), dbl(lat), Cast(e(res), IntegerType)))
  def cell_of(lon: Column, lat: Column, res: Int): Column =
    col(CellOfExpr(dbl(lon), dbl(lat), Literal(res)))
  def cell_z(cell: Column): Column = col(CellZExpr(e(cell)))
  def cell_parent(cell: Column, res: Int): Column =
    col(CellParentExpr(e(cell), Literal(res)))
  def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    col(HaversineExpr(dbl(lon1), dbl(lat1), dbl(lon2), dbl(lat2)))
  def point_in_polygon(lon: Column, lat: Column, rings: Column): Column =
    col(PointInPolygonExpr(dbl(lon), dbl(lat), e(rings)))
  def polygon_cells(rings: Column, res: Int): Column =
    col(PolygonCellsExpr(e(rings), Literal(res)))

  /** Register SQL names so `spark.sql` queries can use them too. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // explicit Casts at build time stand in for ExpectsInputTypes (its
    // AbstractDataType is private to Spark, unavailable to extension
    // code): without them `SELECT haversine_m(0, 0, 1, 1)` constant-folds
    // integer literals through nullSafeEval's asInstanceOf[Double] and
    // throws ClassCastException, while the SAME expression over int
    // COLUMNS silently works via codegen's primitive widening — behavior
    // that flips between the interpreted and generated paths. A
    // double-to-double Cast is optimized away, so typed calls cost nothing.
    def d(e: Expression): Expression = Cast(e, DoubleType)
    def i(e: Expression): Expression = Cast(e, IntegerType)
    def l(e: Expression): Expression = Cast(e, LongType)
    reg.createOrReplaceTempFunction("cell_of", es => CellOfExpr(d(es(0)), d(es(1)), i(es(2))), "built-in")
    reg.createOrReplaceTempFunction("cell_z", es => CellZExpr(l(es.head)), "built-in")
    reg.createOrReplaceTempFunction("cell_parent", es => CellParentExpr(l(es(0)), i(es(1))), "built-in")
    reg.createOrReplaceTempFunction("haversine_m", es => HaversineExpr(d(es(0)), d(es(1)), d(es(2)), d(es(3))), "built-in")
    reg.createOrReplaceTempFunction("point_in_polygon", es => PointInPolygonExpr(d(es(0)), d(es(1)), es(2)), "built-in")
    reg.createOrReplaceTempFunction("polygon_cells", es => PolygonCellsExpr(es(0), i(es(1))), "built-in")
  }
}
