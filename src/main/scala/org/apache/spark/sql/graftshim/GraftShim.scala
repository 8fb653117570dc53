/** Spark-private API shim.
  *
  * Spark 4 moved the Column↔Expression bridge behind
  * `org.apache.spark.sql.classic.ExpressionUtils` and marked it (and
  * `org.apache.spark.sql.types.AbstractDataType`) `private[sql]`. Declaring
  * this file inside a subpackage of `org.apache.spark.sql` makes that access
  * legal without reflection. Only the graft custom Catalyst expressions and
  * the Column bridge live here; all engine logic stays in `graft.*`.
  */
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Column ↔ Catalyst Expression bridge (used by graft.Cols). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The row of the `observe(name, …)` node inside the plan `df` is
    * persisted under, read straight from that cached plan's
    * accumulators: no job and no listener, so it never waits.
    * `CollectMetricsExec.collect` reads the same node for every action
    * that scans the cache. None unless `df` is persisted, carries the
    * node, and an action has materialized every partition of the cache
    * (before that the accumulators hold partial or zero counts). */
  def cachedObservation(df: org.apache.spark.sql.DataFrame,
                        name: String): Option[org.apache.spark.sql.Row] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .flatMap(b => org.apache.spark.sql.execution.CollectMetricsExec.collect(b.cachedPlan).get(name))
  }
}

/** ES|QL division: integer ÷ integer is INTEGER division truncated
  * toward zero (the ES|QL arithmetic contract — `5 / 2` is `2`, not
  * `2.5`); any fractional operand promotes to double division. Spark
  * SQL's `/` is always fractional, so the ES|QL compiler cannot use it
  * directly, and the operand types aren't known until the frame
  * resolves — type-directed at ANALYSIS time via RuntimeReplaceable:
  * once the children's types are known this node replaces itself with
  * IntegralDivide (Spark's `div`, which truncates toward zero on
  * longs, exactly ES's contract) or Divide. Both replacements are
  * plain codegen arithmetic.
  *
  * Division by ZERO follows ES|QL's value-or-null contract: ES returns
  * null (with a warning header) for a zero denominator instead of
  * failing the query, while both Spark replacements THROW under this
  * project's ANSI sessions — one data-dependent zero would kill the
  * whole frame. The replacement therefore guards the denominator:
  * `d == 0 → null` wraps the divide, still a single codegen branch. */
case class EsqlDivide(left: Expression, right: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    with BinaryLike[Expression] {
  override lazy val replacement: Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, EqualTo, If, IntegralDivide, Literal}
    // explicit casts: the analyzer's implicit type coercion has already
    // run by the time this replacement materializes, so mixed-type
    // children would leave the replacement unresolved without them
    if (left.dataType.isInstanceOf[org.apache.spark.sql.types.IntegralType] &&
        right.dataType.isInstanceOf[org.apache.spark.sql.types.IntegralType]) {
      val d = Cast(right, LongType)
      If(EqualTo(d, Literal(0L)), Literal(null, LongType),
        IntegralDivide(Cast(left, LongType), d))
    } else {
      val d = Cast(right, DoubleType)
      If(EqualTo(d, Literal(0.0)), Literal(null, DoubleType),
        Divide(Cast(left, DoubleType), d))
    }
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ES|QL modulo — EsqlDivide's sibling, same two contracts: the result
  * type is type-directed (integral % integral stays LONG; any
  * fractional operand promotes to double fmod), and a ZERO modulus is
  * null (ES's value-or-null contract) where Spark's ANSI Remainder
  * would fail the whole query on one data-dependent zero. Found by the
  * pipeline differential fuzzer's Option-space evaluator, which
  * generates data-dependent modulus expressions the r15 expression
  * fuzzer deliberately avoided. */
case class EsqlMod(left: Expression, right: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    with BinaryLike[Expression] {
  override lazy val replacement: Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, If, Literal, Remainder}
    if (left.dataType.isInstanceOf[org.apache.spark.sql.types.IntegralType] &&
        right.dataType.isInstanceOf[org.apache.spark.sql.types.IntegralType]) {
      val d = Cast(right, LongType)
      If(EqualTo(d, Literal(0L)), Literal(null, LongType),
        Remainder(Cast(left, LongType), d))
    } else {
      val d = Cast(right, DoubleType)
      If(EqualTo(d, Literal(0.0)), Literal(null, DoubleType),
        Remainder(Cast(left, DoubleType), d))
    }
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Point-vs-envelope spatial relation, TYPE-DIRECTED at analysis time
  * (the EsqlDivide pattern): ES|QL's ST_INTERSECTS is symmetric and
  * ST_CONTAINS/ST_WITHIN fix which side is the container, but the
  * compiler cannot know which ARGUMENT is the point and which the
  * envelope until the frame resolves — this RuntimeReplaceable
  * inspects the resolved struct fields (envelope carries min_lon…,
  * point carries lon/lat) and orients, enforcing the declared mode's
  * role order with a CLEAR error instead of a confusing
  * no-such-struct-field failure. mode: "intersects" accepts either
  * order; "contains" requires (envelope, point); "within" requires
  * (point, envelope). */
/** `surface` is the REQUIRED surface function name for error text:
  * ST_DISJOINT compiles through mode "intersects", and a misattributed
  * error would send the user hunting for a call that isn't in their
  * query. The caller (EsqlParser.geoRelate) owns the mode→name
  * fallback — one source of truth, no shim-side duplicate. */
case class GeoEnvelopeRelate(a: Expression, b: Expression, mode: String,
                             surface: String)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    with BinaryLike[Expression] {
  private def isEnvelope(e: Expression): Boolean = e.dataType match {
    case s: StructType => s.fieldNames.contains("min_lon") || s.fieldNames.contains("min_x")
    case _ => false
  }
  private def isPoint(e: Expression): Boolean = e.dataType match {
    case s: StructType => (s.fieldNames.contains("lon") && s.fieldNames.contains("lat")) ||
      (s.fieldNames.contains("x") && s.fieldNames.contains("y") &&
        !s.fieldNames.contains("min_x"))
    case _ => false
  }
  override lazy val replacement: Expression = {
    import org.apache.spark.sql.catalyst.expressions.{And, GetStructField, GreaterThanOrEqual, LessThanOrEqual}
    val (shp, pt) = mode match {
      case "intersects" =>
        if (isEnvelope(a) && isPoint(b)) (a, b)
        else if (isPoint(a) && isEnvelope(b)) (b, a)
        else sys.error(s"$surface expects one geo_point and one ENVELOPE geo_shape " +
          s"(got ${a.dataType.simpleString}, ${b.dataType.simpleString})")
      case "contains" =>
        if (isEnvelope(a) && isPoint(b)) (a, b)
        else sys.error("ST_CONTAINS here supports (ENVELOPE geo_shape, geo_point) — " +
          "for the point-in-shape direction use ST_WITHIN(point, shape)")
      case "within" =>
        if (isPoint(a) && isEnvelope(b)) (b, a)
        else sys.error("ST_WITHIN here supports (geo_point, ENVELOPE geo_shape) — " +
          "for the shape-contains-point direction use ST_CONTAINS(shape, point)")
      case other => sys.error(s"unknown geo relation mode $other")
    }
    def f(e: Expression, n: String): Expression = {
      val st = e.dataType.asInstanceOf[StructType]
      GetStructField(e, st.fieldIndex(n), Some(n))
    }
    // both sides must live in ONE coordinate space — a geo point
    // against a cartesian box is a modeling error, not a false
    val ptGeo = pt.dataType.asInstanceOf[StructType].fieldNames.contains("lon")
    val shpGeo = shp.dataType.asInstanceOf[StructType].fieldNames.contains("min_lon")
    if (ptGeo != shpGeo) sys.error(s"$surface expects both sides " +
      "in the same coordinate space (geo_point with geo_shape, " +
      "cartesian_point with cartesian_shape)")
    val (px, py) = if (ptGeo) ("lon", "lat") else ("x", "y")
    val (xm, xM, ym, yM) =
      if (shpGeo) ("min_lon", "max_lon", "min_lat", "max_lat")
      else ("min_x", "max_x", "min_y", "max_y")
    And(
      And(GreaterThanOrEqual(f(pt, px), f(shp, xm)),
        LessThanOrEqual(f(pt, px), f(shp, xM))),
      And(GreaterThanOrEqual(f(pt, py), f(shp, ym)),
        LessThanOrEqual(f(pt, py), f(shp, yM))))
  }
  override def left: Expression = a
  override def right: Expression = b
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(a = newLeft, b = newRight)
}

/** Analysis-time guard for the plan-time POLYGON half-plane path
  * (the GeoEnvelopeRelate pattern): the compiler can only match a
  * POLYGON literal syntactically, so the OTHER side may turn out to be
  * any resolved struct — e.g. an ENVELOPE bound to an EVAL variable
  * (r16 advice). This wrapper resolves to its child when the child is
  * a geo_point ({lon, lat}) and otherwise raises the SAME named
  * shape-vs-shape error the syntactic guard gives, instead of a raw
  * no-such-struct-field failure from GetStructField. */
case class RequireGeoPoint(child: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    with UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case s: StructType if s.fieldNames.contains("lon") && s.fieldNames.contains("lat") =>
      child
    case other => sys.error("shape-vs-shape relations are not supported — one side " +
      s"must be a geo_point (got ${other.simpleString})")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Analysis-time guard + coercion for KNN's vector field (the
  * RequireGeoPoint pattern): an array<float> passes through, any other
  * NUMERIC array (the mv literals compile to array<long>/array<double>)
  * casts to array<float> so the two features compose, and anything
  * else gets a NAMED error instead of a raw DATATYPE_MISMATCH. */
case class RequireFloatVec(child: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    with UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case ArrayType(FloatType, _) => child
    case ArrayType(et: org.apache.spark.sql.types.NumericType, _) =>
      org.apache.spark.sql.catalyst.expressions.Cast(child, ArrayType(FloatType))
    case other => sys.error("KNN expects a numeric vector field " +
      s"(array of float/double/long), got ${other.simpleString}")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Analysis-typed dispatch for TO_DATE_NANOS (the RequireFloatVec
  * pattern): date_nanos is carried as epoch-nanos LONG. The compiler
  * pre-builds the string-parse and timestamp legs as ordinary Column
  * expressions; this node picks one from the input's RESOLVED type
  * (keyword → parse, date → micros·1000, long → passthrough: already
  * epoch-nanos) and names the error for other atomic types. The
  * unexecuted legs stay in `children` only so analysis resolves them —
  * ReplaceExpressions drops them with the node. */
case class EsqlToDateNanos(child: Expression, fromString: Expression,
                           fromTimestamp: Expression, fromTimestampNtz: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
  override def children: Seq[Expression] =
    Seq(child, fromString, fromTimestamp, fromTimestampNtz)
  override lazy val replacement: Expression = child.dataType match {
    case _: StringType => fromString
    case org.apache.spark.sql.types.TimestampType => fromTimestamp
    // TIMESTAMP_NTZ (one Tables.scala generation produces it): a
    // zoneless wall-clock read as UTC — the parser's dedicated leg
    // lifts the session-zone cast back by the session offset (advice)
    case org.apache.spark.sql.types.TimestampNTZType => fromTimestampNtz
    case LongType => child
    case other => sys.error("TO_DATE_NANOS expects keyword/date/date_nanos/long " +
      s"(date_nanos is carried as epoch-nanos long), got ${other.simpleString}")
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), fromString = newChildren(1),
      fromTimestamp = newChildren(2), fromTimestampNtz = newChildren(3))
}

/** ES|QL's spatial coordinate accessors ST_XMIN/ST_XMAX/ST_YMIN/
  * ST_YMAX (8.18) — TYPE-DIRECTED at analysis time (the
  * GeoEnvelopeRelate pattern): over an ENVELOPE geo_shape the accessor
  * reads the matching bound; over a geo_point the min and max coincide
  * with the point's own coordinate (ES's contract — a point's bounding
  * box is itself). `which` ∈ xmin|xmax|ymin|ymax. Resolves to one
  * GetStructField — free after codegen. */
case class GeoCoordAccessor(child: Expression, which: String)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    with UnaryLike[Expression] {
  override lazy val replacement: Expression = {
    import org.apache.spark.sql.catalyst.expressions.GetStructField
    def f(name: String): Expression = {
      val st = child.dataType.asInstanceOf[StructType]
      GetStructField(child, st.fieldIndex(name), Some(name))
    }
    child.dataType match {
      case s: StructType if s.fieldNames.contains("min_lon") && which != "x" && which != "y" =>
        which match {
          case "xmin" => f("min_lon"); case "xmax" => f("max_lon")
          case "ymin" => f("min_lat"); case "ymax" => f("max_lat")
        }
      // the cartesian box shape ST_ENVELOPE emits for cartesian_points
      case s: StructType if s.fieldNames.contains("min_x") && which != "x" && which != "y" =>
        which match {
          case "xmin" => f("min_x"); case "xmax" => f("max_x")
          case "ymin" => f("min_y"); case "ymax" => f("max_y")
        }
      case s: StructType if s.fieldNames.contains("lon") => which match {
        case "x" | "xmin" | "xmax" => f("lon")
        case "y" | "ymin" | "ymax" => f("lat")
      }
      // cartesian_point ({x, y}) — ST_X/ST_Y and the box accessors
      // read the planar coordinate directly (a point's box is itself)
      case s: StructType if s.fieldNames.contains("x") => which match {
        case "x" | "xmin" | "xmax" => f("x")
        case "y" | "ymin" | "ymax" => f("y")
      }
      case other => sys.error(
        s"ST_${which.toUpperCase} expects a ${if (which == "x" || which == "y") "geo_point or cartesian_point"
          else "geo_point, cartesian_point or ENVELOPE geo_shape"}, got ${other.simpleString}")
    }
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ES|QL's ST_DISTANCE over BOTH coordinate systems, type-directed at
  * analysis time: two geo_points ({lon, lat}) take the engine's shared
  * haversine in meters (SAME operation order as the ns_geo family and
  * the DuckDB oracle text — only the transcendental calls can differ,
  * within 1 ulp, absorbed by each key's ROUND); two cartesian_points
  * ({x, y}) take the planar Euclidean distance ES serves for `point`
  * fields (IEEE sqrt is correctly rounded — bit-identical across
  * engines). Mixing the systems is a named error. */
case class SpatialDistance(a: Expression, b: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    with BinaryLike[Expression] {
  private def kind(e: Expression): String = e.dataType match {
    case s: StructType if s.fieldNames.contains("lon") => "geo"
    case s: StructType if s.fieldNames.contains("x") => "cartesian"
    case _ => "other"
  }
  override lazy val replacement: Expression = {
    // RAW Catalyst nodes only: this runs AFTER analysis, so a
    // functions._-built Column (an unresolved ColumnNode tree) would
    // die at codegen. Operation order mirrors the Column/oracle text
    // exactly: left-associative products, ·π first, then /deg.
    import org.apache.spark.sql.catalyst.expressions.{Add, Asin, Cos, Divide, GetStructField, Literal, Multiply, Sin, Sqrt, Subtract}
    def fld(e: Expression, name: String): Expression = {
      val st = e.dataType.asInstanceOf[StructType]
      GetStructField(e, st.fieldIndex(name), Some(name))
    }
    def rad(e: Expression, deg: Double): Expression =
      Divide(Multiply(e, Literal(math.Pi)), Literal(deg))
    (kind(a), kind(b)) match {
      case ("geo", "geo") =>
        val dlatS = Sin(rad(Subtract(fld(b, "lat"), fld(a, "lat")), 360.0))
        val dlonS = Sin(rad(Subtract(fld(b, "lon"), fld(a, "lon")), 360.0))
        val cosA = Cos(rad(fld(a, "lat"), 180.0))
        val cosB = Cos(rad(fld(b, "lat"), 180.0))
        val h = Add(Multiply(dlatS, dlatS),
          Multiply(Multiply(Multiply(cosA, cosB), dlonS), dlonS))
        Multiply(Multiply(Literal(2.0), Literal(6371000.0)), Asin(Sqrt(h)))
      case ("cartesian", "cartesian") =>
        val dx = Subtract(fld(b, "x"), fld(a, "x"))
        val dy = Subtract(fld(b, "y"), fld(a, "y"))
        Sqrt(Add(Multiply(dx, dx), Multiply(dy, dy)))
      case (ka, kb) => sys.error("ST_DISTANCE expects two geo_points or two " +
        s"cartesian_points, got $ka and $kb")
    }
  }
  override def left: Expression = a
  override def right: Expression = b
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(a = newLeft, b = newRight)
}

/** ES|QL's ST_ENVELOPE (8.18): the minimal bounding box of a geometry.
  * Type-directed like the accessors — an envelope is its own bounding
  * box (identity) and a point's box is the degenerate box at the point
  * (ES's contract). Resolves to field reshuffling only. */
case class GeoEnvelopeOf(child: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
    with UnaryLike[Expression] {
  override lazy val replacement: Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, GetStructField, Literal}
    def f(name: String): Expression = {
      val st = child.dataType.asInstanceOf[StructType]
      GetStructField(child, st.fieldIndex(name), Some(name))
    }
    // the degenerate box at a point, in the given field layout; a null
    // point has a NULL box, not a box of nulls
    def degenerateBox(fields: Seq[(String, String)]): Expression = {
      val box = CreateNamedStruct(fields.flatMap { case (out, in) =>
        Seq(Literal(out), f(in))
      })
      org.apache.spark.sql.catalyst.expressions.If(
        org.apache.spark.sql.catalyst.expressions.IsNull(child),
        Literal.create(null, box.dataType), box)
    }
    child.dataType match {
      case s: StructType if s.fieldNames.contains("min_lon") => child
      case s: StructType if s.fieldNames.contains("min_x") => child
      case s: StructType if s.fieldNames.contains("lon") =>
        degenerateBox(Seq("min_lon" -> "lon", "max_lon" -> "lon",
          "max_lat" -> "lat", "min_lat" -> "lat"))
      // cartesian_point gets the planar box shape ({min_x…}), the
      // cartesian twin GeoCoordAccessor reads back
      case s: StructType if s.fieldNames.contains("x") =>
        degenerateBox(Seq("min_x" -> "x", "max_x" -> "x",
          "max_y" -> "y", "min_y" -> "y"))
      case other => sys.error(
        s"ST_ENVELOPE expects a geo_point, cartesian_point or ENVELOPE geo_shape, got ${other.simpleString}")
    }
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Gzip decompress of BINARY — the reference gunzips each Firehose
  * record's `data` payload after base64-decode (reference main.go:472–479)
  * and the whole HTTP body (reference gzipbinding/binding.go:38–45).
  * `doGenCode` delegates to a static JVM method so the call stays inside
  * whole-stage codegen (no UDF serialization, no codegen fallback). */
case class Gunzip(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gunzip"
  override protected def nullSafeEval(input: Any): Any =
    graft.expr.GzipCodec.gunzip(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.GzipCodec.gunzip($c)")
  override protected def withNewChildInternal(newChild: Expression): Gunzip =
    copy(child = newChild)
}

/** Null-on-failure gunzip for the streaming ingest path: a corrupt or
  * non-gzip body must dead-letter the ROW (reference rejects the batch
  * to the error channel, gzipbinding/binding.go:38–45; S3 ERROR/ prefix
  * cloudformation-template.yaml:170–171), not throw inside the stage —
  * a throwing expression fails the micro-batch, which checkpoint
  * recovery replays forever: one poison record would wedge the whole
  * pipeline. Batch decode ops keep strict Gunzip (fail loudly). */
case class TryGunzip(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "try_gunzip"
  override protected def nullSafeEval(input: Any): Any =
    graft.expr.GzipCodec.tryGunzip(input.asInstanceOf[Array[Byte]])
  // not defineCodeGen: the helper itself returns null on corrupt input,
  // so ev.isNull must be re-derived from the call result
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.expr.GzipCodec.tryGunzip($c);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): TryGunzip =
    copy(child = newChild)
}

/** Gzip compress of BINARY (fixture construction + round-trip tests). */
case class Gzip(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "gzip"
  override protected def nullSafeEval(input: Any): Any =
    graft.expr.GzipCodec.gzip(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.GzipCodec.gzip($c)")
  override protected def withNewChildInternal(newChild: Expression): Gzip =
    copy(child = newChild)
}

/** Single-pass multi-group regex extraction: ONE regex evaluation per row
  * producing a struct of all capture groups, vs N `regexp_extract` calls
  * re-running the same pattern N times (the reference's grok runs its
  * pattern once per line, axway-ingest.json:8). Unmatched rows yield empty
  * strings, matching `regexp_extract`'s no-match behavior. Whole-stage
  * codegen CSE evaluates the struct once even when many fields are
  * projected out of it. */
case class RegExpExtractStruct(child: Expression, regex: String, fieldNames: Seq[String],
                               matchedFlag: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    if (matchedFlag)
      StructType(fieldNames.map(StructField(_, StringType, nullable = true)) :+
        StructField("_matched", org.apache.spark.sql.types.BooleanType, nullable = false))
    else StructType(fieldNames.map(StructField(_, StringType, nullable = false)))
  override def prettyName: String = "regexp_extract_struct"
  @transient private lazy val pattern = java.util.regex.Pattern.compile(regex)
  override protected def nullSafeEval(input: Any): Any =
    GrokHelper.extract(input.asInstanceOf[UTF8String], pattern, fieldNames.length, matchedFlag)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("grokPattern", pattern, "java.util.regex.Pattern")
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftshim.GrokHelper.extract($c, $p, ${fieldNames.length}, $matchedFlag)")
  }
  override protected def withNewChildInternal(newChild: Expression): RegExpExtractStruct =
    copy(child = newChild)
}

object GrokHelper {
  /** `flag = false`: legacy regexp_extract convention — no-match and
    * non-participating groups both yield `""`. `flag = true` (the ES|QL
    * GROK dialect fix): an extra trailing `_matched` boolean
    * distinguishes matched-but-empty captures (`""`) from no-match /
    * non-participating (null) — ES nulls fields only when the whole
    * pattern failed or the group did not participate. */
  def extract(s: UTF8String, p: java.util.regex.Pattern, n: Int, flag: Boolean = false): InternalRow = {
    val m = p.matcher(s.toString)
    val arr = new Array[Any](if (flag) n + 1 else n)
    val matched = m.find()
    var i = 0
    while (i < n) {
      val g = if (matched) m.group(i + 1) else null
      arr(i) =
        if (flag) { if (g == null) null else UTF8String.fromString(g) }
        else UTF8String.fromString(if (g == null) "" else g)
      i += 1
    }
    if (flag) arr(n) = matched
    new GenericInternalRow(arr)
  }
}

/** Compiled dissect template: K+1 literal runs around K key slots, each
  * slot captured (named) or consumed (`%{}` / `%{?skip}`), optionally
  * right-padded (`->`). */
final class DissectPlan(val lits: Array[String], val padded: Array[Boolean],
                        val captured: Array[Boolean]) extends Serializable

/** ES dissect is NOT a regex — it is a linear delimiter scanner: each
  * value runs to the next indexOf(literal), the final literal anchors at
  * the end of the line. This expression implements exactly that walk —
  * O(line) with zero backtracking, where the lazy-capture regex
  * translation pays a backtracking search per key (measured ~2× on the
  * access-log template). Unmatched rows yield empty strings
  * (regexp_extract's no-match convention, shared with
  * RegExpExtractStruct). */
case class DissectExtract(child: Expression, template: String, fieldNames: Seq[String],
                          matchedFlag: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    if (matchedFlag)
      StructType(fieldNames.map(StructField(_, StringType, nullable = true)) :+
        StructField("_matched", org.apache.spark.sql.types.BooleanType, nullable = false))
    else StructType(fieldNames.map(StructField(_, StringType, nullable = false)))
  override def prettyName: String = "dissect_extract"
  @transient private lazy val plan = DissectHelper.compile(template)
  override protected def nullSafeEval(input: Any): Any =
    DissectHelper.extract(input.asInstanceOf[UTF8String], plan, fieldNames.length, matchedFlag)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("dissectPlan", plan,
      "org.apache.spark.sql.graftshim.DissectPlan")
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftshim.DissectHelper.extract($c, $p, ${fieldNames.length}, $matchedFlag)")
  }
  override protected def withNewChildInternal(newChild: Expression): DissectExtract =
    copy(child = newChild)
}

object DissectHelper {
  private val keyRx = java.util.regex.Pattern.compile("%\\{([^}]*)\\}")

  def compile(pattern: String): DissectPlan = {
    val m = keyRx.matcher(pattern)
    val lits = scala.collection.mutable.ArrayBuffer[String]()
    val pads = scala.collection.mutable.ArrayBuffer[Boolean]()
    val caps = scala.collection.mutable.ArrayBuffer[Boolean]()
    var last = 0
    while (m.find()) {
      lits += pattern.substring(last, m.start)
      val raw = m.group(1)
      pads += raw.endsWith("->")
      val name = raw.stripSuffix("->")
      caps += !(name.isEmpty || name.startsWith("?"))
      last = m.end()
    }
    lits += pattern.substring(last)
    new DissectPlan(lits.toArray, pads.toArray, caps.toArray)
  }

  private def rtrimSpaces(s: String, from: Int, to: Int): String = {
    var end = to
    while (end > from && s.charAt(end - 1) == ' ') end -= 1
    s.substring(from, end)
  }

  /** `flag` as in GrokHelper.extract: append a `_matched` boolean and
    * null (instead of empty) the fields on no-match, so matched-but-
    * empty captures (adjacent delimiters) keep ES dissect's `""`. */
  def extract(s: UTF8String, p: DissectPlan, n: Int, flag: Boolean = false): InternalRow = {
    val input = s.toString
    val k = p.padded.length
    val out = new Array[Any](if (flag) n + 1 else n)
    var ok = input.startsWith(p.lits(0))
    var pos = if (ok) p.lits(0).length else 0
    var i = 0
    var oi = 0
    while (ok && i < k) {
      val lit = p.lits(i + 1)
      var value: String = null
      if (lit.isEmpty) {
        // template ends with a key → it captures the rest; adjacent
        // keys without a separator are unresolvable, like ES dissect
        if (i == k - 1) { value = input.substring(pos); pos = input.length }
        else ok = false
      } else {
        val idx =
          if (i == k - 1) {
            // the final literal must anchor at the end of the line
            val cand = input.length - lit.length
            if (cand >= pos && input.startsWith(lit, cand)) cand else -1
          } else input.indexOf(lit, pos)
        if (idx < 0) ok = false
        else if (p.padded(i)) {
          // `->` = `(.*?) *lit` in the regex twin: padding spaces sit
          // BEFORE the literal, so when the literal itself begins with
          // a space, slide it to the end of the space run
          var j = idx
          while (j + 1 + lit.length <= input.length && input.charAt(j) == ' ' &&
            input.startsWith(lit, j + 1)) j += 1
          value = rtrimSpaces(input, pos, j)
          pos = j + lit.length
        } else {
          value = input.substring(pos, idx)
          pos = idx + lit.length
        }
      }
      if (ok && p.captured(i)) { out(oi) = UTF8String.fromString(value); oi += 1 }
      i += 1
    }
    if (!ok) {
      var j = 0
      while (j < n) { out(j) = if (flag) null else UTF8String.EMPTY_UTF8; j += 1 }
    }
    if (flag) out(n) = ok
    new GenericInternalRow(out)
  }
}

/** Random-hyperplane LSH sign bits over an ARRAY<FLOAT> embedding: bit k
  * of the result is set iff dot(quantize(emb), W[k]) >= 0, with
  * quantize(x) = round(x·1000) replicated exactly as Spark's
  * round(CAST(x AS DOUBLE)*1000, 0) (BigDecimal HALF_UP on the double),
  * so the result is bit-identical to the SQL/DuckDB formulation. A tight
  * primitive loop behind a static call keeps the 16×64 integer dot
  * products inside whole-stage codegen; the HOF formulation
  * (transform/zip_with/aggregate) is CodegenFallback and runs the whole
  * stage interpreted, while literal expansion of 1024 terms overflows
  * codegen method limits (both measured slower). */
case class LshSignBits(child: Expression, w: Array[Array[Long]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_sign_bits"
  override protected def nullSafeEval(input: Any): Any =
    LshHelper.signBits(input.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("lshW", w, "long[][]")
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftshim.LshHelper.signBits($c, $wRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): LshSignBits =
    copy(child = newChild)
}

object LshHelper {
  def signBits(emb: ArrayData, w: Array[Array[Long]]): Long = {
    val dim = emb.numElements()
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      q(i) = java.math.BigDecimal.valueOf(emb.getFloat(i).toDouble * 1000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      i += 1
    }
    var bits = 0L
    var k = 0
    while (k < w.length) {
      val wk = w(k)
      var s = 0L
      var j = 0
      val n = math.min(dim, wk.length)
      while (j < n) { s += q(j) * wk(j); j += 1 }
      if (s >= 0L) bits |= (1L << k)
      k += 1
    }
    bits
  }
}

/** Overlapping word 3-shingles of a single-space-tokenized STRING in one
  * byte pass — bit-identical to the definitional
  * `transform(sequence(1, size(t)-2), i -> concat(t[i],' ',t[i+1],' ',t[i+2]))`
  * over `t = split(text, ' ')`: because separators are exactly one space,
  * each shingle IS the raw byte span from token i's start to token
  * i+2's end, so the expression just records space offsets and slices —
  * no regex engine, no per-token allocation beyond the output strings.
  * Replaces a zero-width-lookahead `regexp_extract_all` (itself the
  * workaround for HOFs being CodegenFallback), which pattern-matched at
  * every token boundary. Space scanning is byte-safe in UTF-8 (0x20
  * never occurs inside a multi-byte sequence). */
case class WordShingles3(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles3"
  override protected def nullSafeEval(input: Any): Any =
    ShingleHelper.shingles3(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graftshim.ShingleHelper.shingles3($c)")
  override protected def withNewChildInternal(newChild: Expression): WordShingles3 =
    copy(child = newChild)
}

object ShingleHelper {
  def shingles3(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // token starts: offset 0 plus every byte after a space
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val m = spaces + 1 // token count under single-space split semantics
    if (m < 3) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](m)
    val ends = new Array[Int](m)
    var tok = 0
    var start = 0
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { starts(tok) = start; ends(tok) = i; tok += 1; start = i + 1 }
      i += 1
    }
    starts(tok) = start; ends(tok) = n
    val out = new Array[Any](m - 2)
    var k = 0
    while (k < m - 2) {
      out(k) = UTF8String.fromBytes(bytes, starts(k), ends(k + 2) - starts(k))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** All `n` MinHash signatures of a shingle array in ONE map pass:
  * element b = lexicographic min over shingles x of md5hex(b + ":" + x)
  * — bit-identical to the definitional explode → groupBy(doc) →
  * min(md5(concat(lit("b:"), x))) per b, but with no row amplification,
  * no per-document aggregation, and therefore NO shuffle: the corpus
  * scan maps straight to signatures. (The explode form costs a
  * corpus-wide repartition/combine even with map-side aggregation; at
  * 100 TB that is shuffling the whole corpus once before candidate
  * generation.) Lowercase-hex lexicographic min equals unsigned byte
  * order, matching UTF8String string ordering exactly. An empty
  * shingle array yields NULL — mirroring the explode form, where a
  * shingle-less document simply has no rows and drops out. */
case class MinHashSigs(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  // the SQL registration bounds n to [1, 64] via intLiteral; the
  // internal Scala API (TextFunctions.minhash_sigs) lands here directly,
  // so guard at construction — n=0 would index mins(0) out of bounds at
  // eval time, on the executor, per row
  require(n >= 1, s"minhash_sigs: n must be >= 1, got $n")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs"
  override protected def nullSafeEval(input: Any): Any =
    MinHashHelper.sigs(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val out = nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = org.apache.spark.sql.graftshim.MinHashHelper.sigs($c, $n);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin
    })
    out
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

object MinHashHelper {
  private val hexDigits = "0123456789abcdef".getBytes
  // one digest per executor thread: MessageDigest.getInstance walks the
  // JCA provider table under a lock — per-document calls serialize a
  // 32-thread stage on it
  private val localMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val cachedPrefixes: Array[Array[Byte]] =
    (0 until 64).map(b => (b.toString + ":").getBytes).toArray
  // n > 64 prefix tables, memoized per n: allocating the table per ROW
  // in a hot loop is pure GC churn (the map stays tiny — one entry per
  // distinct n the process ever uses)
  private val widePrefixes =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Byte]]]()
  def sigs(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m == 0) return null
    val md = localMd.get()
    val prefixes =
      if (n <= 64) cachedPrefixes
      else widePrefixes.computeIfAbsent(n,
        k => (0 until k).map(b => (b.toString + ":").getBytes).toArray)
    var b = 0
    val mins = new Array[Array[Byte]](n)
    var i = 0
    while (i < m) {
      // null elements contribute nothing, exactly like the definitional
      // min(md5(x)) form where md5(null) is null and min skips it — the
      // registered SQL function accepts any ARRAY<STRING>
      val el = arr.getUTF8String(i)
      if (el == null) { i += 1 }
      else {
      val sBytes = el.getBytes
      b = 0
      while (b < n) {
        md.reset()
        md.update(prefixes(b))
        md.update(sBytes)
        val dig = md.digest()
        val hex = new Array[Byte](32)
        var j = 0
        while (j < 16) {
          hex(2 * j) = hexDigits((dig(j) >> 4) & 0xf)
          hex(2 * j + 1) = hexDigits(dig(j) & 0xf)
          j += 1
        }
        if (mins(b) == null || lexLt(hex, mins(b))) mins(b) = hex
        b += 1
      }
      i += 1
      }
    }
    // all elements null → no signature, same as the empty array
    if (mins(0) == null) return null
    val out = new Array[Any](n)
    b = 0
    while (b < n) { out(b) = UTF8String.fromBytes(mins(b)); b += 1 }
    new GenericArrayData(out)
  }
  private def lexLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 32) {
      if (a(i) != b(i)) return (a(i) & 0xff) < (b(i) & 0xff)
      i += 1
    }
    false
  }
}

/** Primitive growable long buffer for BoundedBucketAgg: true count
  * tracked separately from the ≤ cap+1 retained values. */
final class BucketBuf(var n: Long, var arr: Array[Long], var len: Int) {
  def this() = this(0L, new Array[Long](8), 0)
  def add(v: Long, cap: Int): Unit = {
    n += 1
    if (len <= cap) {
      if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(len) = v
      len += 1
    }
  }
}

/** Bounded per-bucket member list as a native TypedImperativeAggregate —
  * the aggregation-side form of a hot-bucket cap for LSH/inverted-index
  * candidate generation. Collects a bucket's member ids up to `cap`
  * (true count tracked separately); over-cap buckets evaluate to null
  * (dropped whole, deterministically — the retained subset is
  * order-dependent but only ever discarded). The buffer is a raw
  * primitive long array capped at cap+1 entries, so memory per group is
  * a small constant no matter how hot the bucket — unlike a
  * count().over(bucket) window (buffers every row of the hottest bucket
  * in one task) or collect_list (buffers the whole bucket). Partial
  * (map-side) aggregation pre-shrinks hot buckets to ≤ cap+1 ids before
  * the shuffle. Replaces an equivalent Aggregator/ExpressionEncoder
  * formulation measured ~7× slower per row (encoder round-trips +
  * immutable-collection churn on the update path). Output is sorted
  * ascending so OrderedPairs emits each unordered pair exactly once. */
case class BoundedBucketAgg(child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BucketBuf]
    with ExpectsInputTypes with UnaryLike[Expression] {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bounded_bucket"
  override def createAggregationBuffer(): BucketBuf = new BucketBuf()
  override def update(b: BucketBuf, input: InternalRow): BucketBuf = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Long], cap)
    b
  }
  override def merge(b: BucketBuf, o: BucketBuf): BucketBuf = {
    b.n += o.n - o.len // add counts beyond o's retained values once
    var i = 0
    while (i < o.len) { b.add(o.arr(i), cap); i += 1 }
    b
  }
  override def eval(b: BucketBuf): Any =
    if (b.n > cap) null
    else {
      val out = java.util.Arrays.copyOf(b.arr, b.len)
      java.util.Arrays.sort(out)
      new GenericArrayData(out)
    }
  override def serialize(b: BucketBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + b.len * 8)
    bb.putLong(b.n).putInt(b.len)
    var i = 0
    while (i < b.len) { bb.putLong(b.arr(i)); i += 1 }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): BucketBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getLong
    val len = bb.getInt
    val arr = new Array[Long](math.max(8, len))
    var i = 0
    while (i < len) { arr(i) = bb.getLong; i += 1 }
    new BucketBuf(n, arr, len)
  }
  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedBucketAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedBucketAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BoundedBucketAgg =
    copy(child = newChild)
}

/** Top-k buffer: parallel primitive arrays kept sorted by
  * (score desc, id asc), at most k entries. */
final class TopKBuf(val ids: Array[Long], val scores: Array[Double], var len: Int) {
  /** Insert maintaining order; drops the entry if it falls past k. */
  def insert(id: Long, score: Double, k: Int): Unit = {
    var pos = len
    while (pos > 0 && (scores(pos - 1) < score ||
      (scores(pos - 1) == score && ids(pos - 1) > id))) pos -= 1
    if (pos >= k) return
    val last = math.min(len, k - 1)
    var i = last
    while (i > pos) { ids(i) = ids(i - 1); scores(i) = scores(i - 1); i -= 1 }
    ids(pos) = id; scores(pos) = score
    if (len < k) len += 1
  }
}

/** Bounded top-k by (score desc, id asc) as a native
  * TypedImperativeAggregate — output order and tie-breaks match
  * `row_number() OVER (ORDER BY score DESC, id)`. The scale story is
  * partial aggregation: each map task keeps ≤ k entries per group, so
  * the shuffle carries k·tasks rows per group and the stragglers a
  * giant window partition creates never form. Primitive parallel-array
  * buffer with insertion sort (k is single digits): no encoder
  * round-trips, no per-row allocation — replaces the
  * Aggregator/ExpressionEncoder formulation for the same reason as
  * BoundedBucketAgg. */
case class TopKByScoreAgg(left: Expression, right: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuf]
    with ExpectsInputTypes with BinaryLike[Expression] {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, DoubleType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topkbyscore"
  override def createAggregationBuffer(): TopKBuf =
    new TopKBuf(new Array[Long](k), new Array[Double](k), 0)
  override def update(b: TopKBuf, input: InternalRow): TopKBuf = {
    val id = left.eval(input)
    val score = right.eval(input)
    if (id != null && score != null)
      b.insert(id.asInstanceOf[Long], score.asInstanceOf[Double], k)
    b
  }
  override def merge(b: TopKBuf, o: TopKBuf): TopKBuf = {
    var i = 0
    while (i < o.len) { b.insert(o.ids(i), o.scores(i), k); i += 1 }
    b
  }
  override def eval(b: TopKBuf): Any = {
    val out = new Array[Any](b.len)
    var i = 0
    while (i < b.len) {
      out(i) = new GenericInternalRow(Array[Any](b.ids(i), b.scores(i)))
      i += 1
    }
    new GenericArrayData(out)
  }
  override def serialize(b: TopKBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + b.len * 16)
    bb.putInt(b.len)
    var i = 0
    while (i < b.len) { bb.putLong(b.ids(i)); bb.putDouble(b.scores(i)); i += 1 }
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val len = bb.getInt
    val ids = new Array[Long](k)
    val scores = new Array[Double](k)
    var i = 0
    while (i < len) { ids(i) = bb.getLong; scores(i) = bb.getDouble; i += 1 }
    new TopKBuf(ids, scores, len)
  }
  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScoreAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScoreAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TopKByScoreAgg =
    copy(left = l, right = r)
}

/** Expand a sorted ARRAY<BIGINT> of bucket members into its ordered
  * pairs (a < b; with `includeDiagonal`, also every (a, a)) as
  * ARRAY<STRUCT<a, b>> — the candidate-pair emission step of the
  * group-by-bucket LSH/inverted-index join (the MapReduce
  * set-similarity shape: one reducer per bucket emits its pairs,
  * Vernica et al. SIGMOD'10). Output size is C(n,2) (+n) with n capped
  * by BoundedBucketList upstream, so each output array is small by
  * construction. A native expression because the HOF formulation
  * (flatten(transform(...))) is CodegenFallback and would run the whole
  * stage interpreted. */
case class OrderedPairs(child: Expression, includeDiagonal: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "ordered_pairs"
  override protected def nullSafeEval(input: Any): Any =
    PairsHelper.pairs(input.asInstanceOf[ArrayData], includeDiagonal)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftshim.PairsHelper.pairs($c, $includeDiagonal)")
  override protected def withNewChildInternal(newChild: Expression): OrderedPairs =
    copy(child = newChild)
}

object PairsHelper {
  def pairs(arr: ArrayData, diag: Boolean): ArrayData = {
    val n = arr.numElements()
    val m = n * (n - 1) / 2 + (if (diag) n else 0)
    val out = new Array[Any](m)
    var k = 0
    var i = 0
    while (i < n) {
      val a = arr.getLong(i)
      var j = if (diag) i else i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](a, arr.getLong(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Unicode NFC normalization of a STRING — the production first step of
  * text normalization for dedup keys (decomposed "é" and composed
  * "é" must hash identically or near-dups split across encodings).
  * On pure-ASCII input NFC is the identity, which is what keeps the
  * DuckDB oracle (no normalizer) valid on the synthetic corpus while the
  * Spark plan runs the real operator. Fast path: Normalizer.isNormalized
  * is O(n) with no allocation for already-NFC text (the overwhelming
  * case), so the hot path stays cheap inside whole-stage codegen. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override protected def nullSafeEval(input: Any): Any =
    NfcHelper.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graftshim.NfcHelper.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Semver rule-11.4 prerelease-tag encoding for TO_VERSION (r19): each
  * dot-identifier encodes as "0" + zero-pad-to-10 when all-digits
  * (numeric precedence — the constant '0' head keeps every numeric
  * below every alphanumeric, and the pad makes the digit comparison
  * numeric) or "1" + id otherwise (ASCII order preserved under the
  * shared head); all-digit identifiers beyond 10 digits fall to the
  * alphanumeric branch (the version-core cap discipline). Encoded
  * identifiers join with ',' (0x2C) — the separator must sort BELOW
  * every legal identifier char (digits, letters, and '-' 0x2D; '.'
  * 0x2E sits ABOVE '-' and mis-sorted "alpha.1" after "alpha-1" in
  * r19 — semver 11.4 compares first identifiers "alpha" < "alpha-1")
  * and ABOVE the '!' (0x21) prerelease terminator so a tag that is an
  * identifier-list PREFIX of another still sorts first (r20 advice
  * fix). A native
  * expression, not a `transform` lambda: ArrayTransform is an
  * interpreted fallback that would break the key's whole-stage-codegen
  * plan lock (PlanSpec). */
case class SemverPreEncode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "semver_pre_encode"
  override protected def nullSafeEval(input: Any): Any =
    SemverHelper.encodePre(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftshim.SemverHelper.encodePre($c)")
  override protected def withNewChildInternal(newChild: Expression): SemverPreEncode =
    copy(child = newChild)
}

/** DATE_FORMAT for ZONE-BEARING patterns (r20 advice): Spark's
  * `date_format` always renders in the SESSION zone, and the r19
  * shift trick (to_utc_timestamp then session-zone render) printed the
  * UTC wall-clock under the SESSION zone's label whenever the pattern
  * itself prints a zone (z/Z/X/x/O/V/v) — internally inconsistent and
  * not ES's UTC rendering. This renders via a genuinely UTC-pinned
  * java.time formatter, so zone letters print UTC ("Z", "+0000",
  * "UTC") with the UTC wall-clock in ANY embedding session. ES's own
  * date formats ARE java.time DateTimeFormatter patterns, so the
  * java.time dialect is the faithful one for this path. The pattern is
  * a plan-time literal → ONE formatter per plan, shipped as a codegen
  * reference object; still whole-stage-codegen (one virtual call per
  * row, the same shape as every graftshim helper). */
case class UtcDateFormat(child: Expression, fmt: String)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(TimestampType)
  override def dataType: DataType = StringType
  override def prettyName: String = "utc_date_format"
  @transient private lazy val formatter =
    java.time.format.DateTimeFormatter
      .ofPattern(fmt, java.util.Locale.ROOT)
      .withZone(java.time.ZoneOffset.UTC)
  override protected def nullSafeEval(input: Any): Any =
    UtcDateFormatHelper.fmt(input.asInstanceOf[Long], formatter)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fRef = ctx.addReferenceObj("utcFmt", formatter,
      "java.time.format.DateTimeFormatter")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftshim.UtcDateFormatHelper.fmt($c, $fRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): UtcDateFormat =
    copy(child = newChild)
}

object UtcDateFormatHelper {
  def fmt(micros: Long, f: java.time.format.DateTimeFormatter): UTF8String =
    UTF8String.fromString(f.format(java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)))
}

object SemverHelper {
  def encodePre(s: UTF8String): UTF8String = {
    val ids = s.toString.split("\\.", -1)
    val out = new java.lang.StringBuilder(s.numChars() + ids.length * 11)
    var i = 0
    while (i < ids.length) {
      if (i > 0) out.append(',') // NOT '.': 0x2C < '-' 0x2D < '.' 0x2E
      val id = ids(i)
      val numeric = id.nonEmpty && id.length <= 10 && id.forall(c => c >= '0' && c <= '9')
      if (numeric) {
        out.append('0')
        var p = id.length
        while (p < 10) { out.append('0'); p += 1 }
        out.append(id)
      } else {
        out.append('1').append(id)
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }
}

object NfcHelper {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Build a byte-true BMP file (BITMAPFILEHEADER + BITMAPINFOHEADER, the
  * public format layout) around an opaque payload: `BM` magic, file size
  * and pixel-data offset in the file header, 40-byte DIB header carrying
  * width/height as little-endian int32 at offsets 18/22, 1 plane,
  * 24 bpp, payload appended as the pixel data. The multimodal fixture
  * constructor — the container has no media libs, so the engine proves
  * its binary-column plumbing with a format simple enough to emit and
  * re-parse byte-for-byte. */
case class BmpWrap(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bmp_wrap"
  override protected def nullSafeEval(payload: Any, w: Any, h: Any): Any =
    BmpHelper.wrap(payload.asInstanceOf[Array[Byte]], w.asInstanceOf[Int], h.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (p, w, h) => s"org.apache.spark.sql.graftshim.BmpHelper.wrap($p, $w, $h)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BmpWrap =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Parse width/height out of BMP bytes — the byte-TRUE media decoder:
  * validates the `BM` magic and header length, then reads the two
  * little-endian int32 dimension fields at DIB offsets 18/22. Returns
  * null (not garbage) for content that is not a BMP, which is how a
  * media pipeline routes non-decodable blobs to quarantine. One codegen
  * call per row; a real image library slots in behind the same
  * expression shape (decode-to-struct over a binary column). */
case class BmpDims(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "bmp_dims"
  override protected def nullSafeEval(input: Any): Any =
    BmpHelper.dims(input.asInstanceOf[Array[Byte]])
  // not defineCodeGen: the helper returns null on non-BMP input, so
  // ev.isNull must be re-derived from the call result (same pattern as
  // TryGunzip)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.graftshim.BmpHelper.dims($c);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): BmpDims =
    copy(child = newChild)
}

object BmpHelper {
  val headerLen: Int = 54 // 14-byte file header + 40-byte BITMAPINFOHEADER

  private[graftshim] def putLE32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  private[graftshim] def getLE32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  def wrap(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](headerLen + payload.length)
    out(0) = 'B'; out(1) = 'M'
    putLE32(out, 2, out.length)   // file size
    putLE32(out, 10, headerLen)   // pixel-data offset
    putLE32(out, 14, 40)          // DIB header size
    putLE32(out, 18, w)
    putLE32(out, 22, h)
    out(26) = 1                   // planes (LE16)
    out(28) = 24                  // bits per pixel (LE16)
    putLE32(out, 34, payload.length) // image size
    System.arraycopy(payload, 0, out, headerLen, payload.length)
    out
  }

  /** null iff the bytes are not a plausible BMP. */
  def dims(bytes: Array[Byte]): InternalRow =
    if (bytes.length < 26 || bytes(0) != 'B' || bytes(1) != 'M') null
    else new GenericInternalRow(Array[Any](getLE32(bytes, 18), getLE32(bytes, 22)))
}

/** Byte-true canonical 16-bit PCM WAV header writer/reader — the audio
  * twin of the BMP fixtures: the opaque-binary-plus-typed-metadata
  * posture for multimodal columns, with a REAL RIFF/WAVE header (44
  * bytes: RIFF size, fmt chunk with PCM tag/channels/sample-rate/
  * byte-rate/block-align/16-bit, data chunk length) so the decoder
  * exercises genuine little-endian byte parsing, not a passthrough. */
object WavHelper {
  val headerLen: Int = 44

  def wrap(payload: Array[Byte], sampleRate: Int, channels: Int): Array[Byte] = {
    val out = new Array[Byte](headerLen + payload.length)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    BmpHelper.putLE32(out, 4, 36 + payload.length)   // RIFF chunk size
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    BmpHelper.putLE32(out, 16, 16)                   // fmt chunk size
    out(20) = 1                                      // PCM (LE16)
    out(22) = (channels & 0xff).toByte               // channels (LE16)
    out(23) = ((channels >> 8) & 0xff).toByte
    BmpHelper.putLE32(out, 24, sampleRate)
    val blockAlign = channels * 2                    // 16-bit samples
    BmpHelper.putLE32(out, 28, sampleRate * blockAlign) // byte rate
    out(32) = (blockAlign & 0xff).toByte             // block align (LE16)
    out(33) = ((blockAlign >> 8) & 0xff).toByte
    out(34) = 16                                     // bits per sample (LE16)
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    BmpHelper.putLE32(out, 40, payload.length)
    System.arraycopy(payload, 0, out, headerLen, payload.length)
    out
  }

  /** null iff the bytes are not a plausible canonical WAV — the fields
    * read at fixed offsets (22/24/40) only mean channels/rate/data-len
    * when the chunk TAGS at 12 ("fmt ") and 36 ("data") confirm the
    * canonical layout, so both tags are checked, not assumed; n_samples
    * is per-channel frames (dataLen / blockAlign, guarded for a corrupt
    * zero channel count). */
  def meta(bytes: Array[Byte]): InternalRow =
    if (bytes.length < headerLen ||
        bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' || bytes(3) != 'F' ||
        bytes(8) != 'W' || bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E' ||
        bytes(12) != 'f' || bytes(13) != 'm' || bytes(14) != 't' || bytes(15) != ' ' ||
        bytes(36) != 'd' || bytes(37) != 'a' || bytes(38) != 't' || bytes(39) != 'a') null
    else {
      val channels = (bytes(22) & 0xff) | ((bytes(23) & 0xff) << 8)
      val rate = BmpHelper.getLE32(bytes, 24)
      val dataLen = BmpHelper.getLE32(bytes, 40)
      val block = math.max(1, channels * 2)
      new GenericInternalRow(Array[Any](rate, channels, dataLen / block))
    }
}

case class WavWrap(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_wrap"
  override protected def nullSafeEval(payload: Any, rate: Any, ch: Any): Any =
    WavHelper.wrap(payload.asInstanceOf[Array[Byte]], rate.asInstanceOf[Int], ch.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (p, r, c) => s"org.apache.spark.sql.graftshim.WavHelper.wrap($p, $r, $c)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): WavWrap =
    copy(first = newFirst, second = newSecond, third = newThird)
}

case class WavMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "wav_meta"
  override protected def nullSafeEval(input: Any): Any =
    WavHelper.meta(input.asInstanceOf[Array[Byte]])
  // not defineCodeGen: null on non-WAV input (the BmpDims pattern)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.graftshim.WavHelper.meta($c);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): WavMeta =
    copy(child = newChild)
}

/** SimHash signature over an ARRAY<STRING> token array in ONE codegen'd
  * map pass: per token, h = first 32 bits of md5 (== SQL
  * conv(substring(md5(tok),1,8),16,10)); per bit j∈[0,16), a ±1 majority
  * vote over tokens; bit j of the result is set iff the vote sum ≥ 0 —
  * bit-identical to the SQL formulation both engines previously ran as
  * explode(sequence(0,15)) + two aggregations. The expression replaces a
  * 16× row amplification THROUGH A SHUFFLE (tokens ×16 bit rows, then
  * doc×j and doc aggregations) with zero shuffles: signature computed
  * where the row already is. At 100 TB that 16× shuffle volume is the
  * difference between a map-only pass and a multi-TB exchange. */
case class SimHashBits(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_bits"
  override protected def nullSafeEval(input: Any): Any =
    SimHashHelper.bits(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graftshim.SimHashHelper.bits($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

object SimHashHelper {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def bits(toks: ArrayData): Long = {
    val votes = new Array[Int](16)
    val md = mdLocal.get()
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        md.reset()
        val d = md.digest(t.getBytes)
        // first 4 digest bytes == first 8 md5 hex chars, unsigned
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
                ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var j = 0
        while (j < 16) {
          if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var bits = 0L
    var j = 0
    while (j < 16) { if (votes(j) >= 0) bits |= (1L << j); j += 1 }
    bits
  }
}

/** Integer vector quantization: round(x·1000) HALF_UP per element over an
  * ARRAY<FLOAT> embedding — the shared quantization every integer-space
  * vector operator builds on (k-means, PQ, LSH), exactly Spark's
  * round(CAST(x AS DOUBLE)*1000, 0) per element (BigDecimal HALF_UP, the
  * LshSignBits parity rule), so DuckDB reproduces it bit-for-bit. A
  * native expression because the `transform(...)` HOF formulation is
  * CodegenFallback and drops the whole corpus stage to interpreted
  * execution — this is the FIRST step of every PQ/k-means corpus pass. */
case class QuantizeVec(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quantize_vec"
  override protected def nullSafeEval(input: Any): Any =
    PqHelper.quantize(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graftshim.PqHelper.quantize($c)")
  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

/** Nearest-centroid argmin over a broadcast centroid array: q is
  * ARRAY<BIGINT>, cents is ARRAY<STRUCT<cluster INT, cq ARRAY<BIGINT>>>;
  * output is the (cluster, dist) of the minimum exact-long L2, ties to
  * the LOWER cluster id — exactly the array_min-over-struct(dist,
  * cluster) idiom it replaces (struct ordering IS the tie-break), but as
  * a primitive loop inside whole-stage codegen instead of a
  * CodegenFallback HOF chain interpreting k×dim lambda frames per row.
  * Types are guaranteed by the internal constructor (no SQL surface), so
  * no ExpectsInputTypes coercion on the nested side. */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"
  override protected def nullSafeEval(q: Any, cents: Any): Any =
    PqHelper.nearest(q.asInstanceOf[ArrayData], cents.asInstanceOf[ArrayData])
  // null iff the centroid array is empty — re-derive isNull (TryGunzip pattern)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"""${ev.value} = org.apache.spark.sql.graftshim.PqHelper.nearest($q, $c);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCentroid =
    copy(left = l, right = r)
}

/** PQ corpus encoding: per subspace m, the argmin centroid id of the
  * m-th contiguous q-subvector against cb[m] (ARRAY<ARRAY<STRUCT<cid
  * INT, cq ARRAY<BIGINT>>>>, centroids sorted by cid) — 8 argmins per
  * row in one primitive loop. Subspace width comes from each
  * centroid's own cq length, so a ragged codebook cannot misalign the
  * offsets. Replaces the transform(sequence)/array_min/slice HOF chain
  * (CodegenFallback) that ran the whole corpus encode interpreted —
  * at 100 TB the encode pass rides every index build. */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def nullSafeEval(q: Any, cb: Any): Any =
    PqHelper.encode(q.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (q, cb) => s"org.apache.spark.sql.graftshim.PqHelper.encode($q, $cb)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqEncode =
    copy(left = l, right = r)
}

/** Per-query ADC lookup table: for each subspace m, the exact long L2 of
  * the query's m-th subvector to EVERY centroid in cb[m], as
  * ARRAY<ARRAY<STRUCT<cid INT, d BIGINT>>> (cid-keyed entries, robust to
  * a centroid emptying out in the Lloyd round). One table per query —
  * tiny, broadcast — so the corpus ADC scan is pure table lookups. */
case class PqLut(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(ArrayType(StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("d", LongType, nullable = false))), containsNull = false),
    containsNull = false)
  override def prettyName: String = "pq_lut"
  override protected def nullSafeEval(qq: Any, cb: Any): Any =
    PqHelper.lut(qq.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (qq, cb) => s"org.apache.spark.sql.graftshim.PqHelper.lut($qq, $cb)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqLut =
    copy(left = l, right = r)
}

/** Asymmetric distance computation: sum over subspaces of the LUT entry
  * matching the row's code — the 8-lookup inner loop that IS the PQ
  * compressed-domain scan. Each lookup is a ≤ ksub-entry linear probe
  * (16 ints — cheaper than any hash structure at this size). NULL if a
  * code has no LUT entry (mirrors element_at's missing-key null, which
  * the HOF formulation produced). Native because the interpreted
  * transform/element_at/aggregate chain forfeits exactly the constant
  * factor PQ exists to win at 100 TB. */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"
  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    PqHelper.adc(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      val tmp = ctx.freshName("adc")
      s"""java.lang.Long $tmp = org.apache.spark.sql.graftshim.PqHelper.adc($codes, $lut);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.longValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdc =
    copy(left = l, right = r)
}

/** Exact long L2 distance between two ARRAY<BIGINT> vectors (index-order
  * primitive loop over the common prefix) — the rerank stage's exact
  * re-scoring, replacing the aggregate(zip_with(...)) CodegenFallback. */
case class L2DistanceLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_l2_long"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqHelper.l2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"org.apache.spark.sql.graftshim.PqHelper.l2($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2DistanceLong =
    copy(left = l, right = r)
}

object PqHelper {
  def quantize(emb: ArrayData): ArrayData = {
    val n = emb.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = java.math.BigDecimal.valueOf(emb.getFloat(i).toDouble * 1000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact long L2 over the common prefix of the two subvectors. */
  private def subL2(q: ArrayData, off: Int, cq: ArrayData): Long = {
    val n = math.min(cq.numElements(), q.numElements() - off)
    var d = 0L
    var j = 0
    while (j < n) { val t = q.getLong(off + j) - cq.getLong(j); d += t * t; j += 1 }
    d
  }

  /** null iff cents is empty. */
  def nearest(q: ArrayData, cents: ArrayData): InternalRow = {
    val k = cents.numElements()
    if (k == 0) return null
    var bestD = Long.MaxValue
    var bestC = Int.MaxValue
    var i = 0
    while (i < k) {
      val st = cents.getStruct(i, 2)
      val c = st.getInt(0)
      val d = subL2(q, 0, st.getArray(1))
      if (d < bestD || (d == bestD && c < bestC)) { bestD = d; bestC = c }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestC, bestD))
  }

  def encode(q: ArrayData, cb: ArrayData): ArrayData = {
    val m = cb.numElements()
    val out = new Array[Int](m)
    var mi = 0
    var off = 0
    while (mi < m) {
      val cents = cb.getArray(mi)
      val k = cents.numElements()
      var bestD = Long.MaxValue
      var bestC = Int.MaxValue
      var dsub = 0
      var ci = 0
      while (ci < k) {
        val st = cents.getStruct(ci, 2)
        val cid = st.getInt(0)
        val cq = st.getArray(1)
        dsub = cq.numElements()
        val d = subL2(q, off, cq)
        if (d < bestD || (d == bestD && cid < bestC)) { bestD = d; bestC = cid }
        ci += 1
      }
      out(mi) = bestC
      off += dsub
      mi += 1
    }
    new GenericArrayData(out)
  }

  def lut(qq: ArrayData, cb: ArrayData): ArrayData = {
    val m = cb.numElements()
    val out = new Array[Any](m)
    var mi = 0
    var off = 0
    while (mi < m) {
      val cents = cb.getArray(mi)
      val k = cents.numElements()
      val entries = new Array[Any](k)
      var dsub = 0
      var ci = 0
      while (ci < k) {
        val st = cents.getStruct(ci, 2)
        val cq = st.getArray(1)
        dsub = cq.numElements()
        entries(ci) = new GenericInternalRow(Array[Any](st.getInt(0), subL2(qq, off, cq)))
        ci += 1
      }
      out(mi) = new GenericArrayData(entries)
      off += dsub
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** null iff any code lacks a LUT entry (element_at missing-key parity). */
  def adc(codes: ArrayData, lut: ArrayData): java.lang.Long = {
    val m = math.min(codes.numElements(), lut.numElements())
    var s = 0L
    var mi = 0
    while (mi < m) {
      val code = codes.getInt(mi)
      val entries = lut.getArray(mi)
      val k = entries.numElements()
      var found = false
      var i = 0
      while (i < k && !found) {
        val st = entries.getStruct(i, 2)
        if (st.getInt(0) == code) { s += st.getLong(1); found = true }
        i += 1
      }
      if (!found) return null
      mi += 1
    }
    java.lang.Long.valueOf(s)
  }

  def l2(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0L
    var j = 0
    while (j < n) { val t = a.getLong(j) - b.getLong(j); d += t * t; j += 1 }
    d
  }
}

sealed abstract class FloatVecBinary extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
}

/** Tight primitive-loop dot product over ARRAY<FLOAT> (see graft.expr.VecMath). */
case class DotProduct(left: Expression, right: Expression) extends FloatVecBinary {
  override def prettyName: String = "vec_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.expr.VecMath.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.VecMath.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Cosine similarity over ARRAY<FLOAT>; 0.0 for zero vectors (no NaN). */
case class CosineSimilarity(left: Expression, right: Expression) extends FloatVecBinary {
  override def prettyName: String = "vec_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.expr.VecMath.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.VecMath.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Standard geohash cell encoding (the algorithm OpenSearch's
  * geohash_grid agg and Lucene's GeoHashUtils implement: binary
  * subdivision of the lat/lon ranges, lon bit first, base-32 output).
  * Kept in a static helper so codegen emits one call per row. */
object GeoHelper {
  private final val B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
  def geohash(lat: Double, lon: Double, precision: Int): UTF8String = {
    val totalBits = 5 * precision
    val lonBits = (totalBits + 1) / 2
    val latBits = totalBits / 2
    var ix = math.floor((lon + 180.0) / 360.0 * (1L << lonBits)).toLong
    var iy = math.floor((lat + 90.0) / 180.0 * (1L << latBits)).toLong
    // the +180 / +90 edges land in the last cell, like Lucene
    if (ix >= (1L << lonBits)) ix = (1L << lonBits) - 1
    if (ix < 0) ix = 0
    if (iy >= (1L << latBits)) iy = (1L << latBits) - 1
    if (iy < 0) iy = 0
    var g = 0L
    var bi = 0
    var lonI = lonBits - 1
    var latI = latBits - 1
    while (bi < totalBits) {
      if (bi % 2 == 0) { g = (g << 1) | ((ix >> lonI) & 1L); lonI -= 1 }
      else { g = (g << 1) | ((iy >> latI) & 1L); latI -= 1 }
      bi += 1
    }
    val sb = new java.lang.StringBuilder(precision)
    var k = precision - 1
    while (k >= 0) { sb.append(B32.charAt(((g >> (5 * k)) & 31L).toInt)); k -= 1 }
    UTF8String.fromString(sb.toString)
  }
}

/** `geohash_cell(lat, lon, precision)` — precision is a literal (it
  * shapes the output length); null lat/lon propagate. */
case class GeohashCell(left: Expression, right: Expression, precision: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(precision >= 1 && precision <= 12, "geohash precision must be in [1, 12]")
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = StringType
  override def prettyName: String = "geohash_cell"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeoHelper.geohash(a.asInstanceOf[Double], b.asInstanceOf[Double], precision)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"org.apache.spark.sql.graftshim.GeoHelper.geohash($a, $b, $precision)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): GeohashCell =
    copy(left = l, right = r)
}

/** 16-window PCM16 energy fingerprint over a char-as-byte sample stream
  * in ONE codegen'd pass — the native form of the ns_multimodal_audio_fp
  * formulation (little-endian byte pair → signed sample, 16 analysis
  * windows w = j·16 div nsamp, bit w set iff the window's mean
  * |amplitude| beats the track mean by the exact integer cross-multiply
  * s_w·c_tot > s_tot·c_w). The expression replaces a one-row-PER-SAMPLE
  * explode through two aggregations (doc_bytes/2 × row amplification
  * and a shuffle keyed (doc, window)) with zero shuffles: the
  * fingerprint computes where the row already is — at 100 TB of audio
  * the explode volume IS the job. Characters are taken as UTF-16 code
  * units (== code points == bytes on the ASCII fixture, matching the
  * declared ascii(substr(…)) semantics both oracles run). */
object Pcm16Helper {
  def fp(s: UTF8String): InternalRow = {
    val str = s.toString
    val nsamp = str.length / 2
    if (nsamp <= 0) return null
    val sums = new Array[Long](16)
    val counts = new Array[Long](16)
    var j = 0
    while (j < nsamp) {
      val raw = str.charAt(2 * j).toInt + 256 * str.charAt(2 * j + 1).toInt
      val amp = math.abs(if (raw >= 32768) raw - 65536 else raw).toLong
      val w = ((j.toLong * 16L) / nsamp).toInt
      sums(w) += amp
      counts(w) += 1L
      j += 1
    }
    var sTot = 0L; var cTot = 0L; var i = 0
    while (i < 16) { sTot += sums(i); cTot += counts(i); i += 1 }
    var fpv = 0L; i = 0
    while (i < 16) {
      if (sums(i) * cTot > sTot * counts(i)) fpv |= (1L << i)
      i += 1
    }
    new GenericInternalRow(Array[Any](fpv, cTot))
  }
}

/** `pcm16_fp(text)` → struct(audio_fp, n_samples); null when the
  * payload holds no complete sample. */
case class Pcm16Fingerprint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("audio_fp", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "pcm16_fp"
  override protected def nullSafeEval(input: Any): Any =
    Pcm16Helper.fp(input.asInstanceOf[UTF8String])
  // not defineCodeGen: null on an empty payload (the WavMeta pattern)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.graftshim.Pcm16Helper.fp($c);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Pcm16Fingerprint =
    copy(child = newChild)
}
