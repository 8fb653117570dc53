package graft.expr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A geoip range table ready for lookup: disjoint inclusive
  * `[start, end]` ranges sorted by start, each with its attribute row
  * (geo_country, as_number, organization_name). */
final class GeoTable private (starts: Array[Long], ends: Array[Long],
                              attrs: Array[InternalRow]) extends Serializable {
  /** The attributes of the range holding `ip`, or null: a binary search
    * for the last start ≤ ip, then its end bound. */
  def lookup(ip: Long): InternalRow = {
    var lo = 0
    var hi = starts.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= ip) lo = mid + 1 else hi = mid - 1
    }
    if (hi >= 0 && ip <= ends(hi)) attrs(hi) else null
  }
}

object GeoTable {
  val attrType: StructType = StructType(Seq(
    StructField("geo_country", StringType),
    StructField("as_number", LongType),
    StructField("organization_name", StringType)))

  /** Build from (ip_start, ip_end, geo_country, as_number,
    * organization_name) rows with non-null bounds. A range with
    * ip_start > ip_end, or two ranges sharing an address, fail here
    * naming the first such range (pair): a lookup has one answer per
    * address, where a range join would emit the document once per
    * match. */
  def apply(rows: Seq[Row]): GeoTable = {
    val sorted = rows.sortBy(_.getLong(0)).toArray
    def show(r: Row): String = s"[${r.getLong(0)}, ${r.getLong(1)}] (${r.get(2)})"
    sorted.indices.foreach { i =>
      require(sorted(i).getLong(0) <= sorted(i).getLong(1),
        s"geo dim range has ip_start > ip_end: ${show(sorted(i))}")
      if (i > 0) require(sorted(i).getLong(0) > sorted(i - 1).getLong(1),
        s"geo dim ranges overlap: ${show(sorted(i - 1))} and ${show(sorted(i))}")
    }
    new GeoTable(sorted.map(_.getLong(0)), sorted.map(_.getLong(1)),
      sorted.map(r => new GenericInternalRow(Array[Any](
        UTF8String.fromString(r.getString(2)), r.get(3), UTF8String.fromString(r.getString(4))))))
  }
}

/** The geoip processor as a scalar: IPv4 long (the child must be a
  * BIGINT) → the attributes of the range holding it, null on a miss or
  * a null address. The table is one Spark `Broadcast`, fetched once per
  * task by the generated code, so a plan using it has no join, no
  * broadcast exchange and no job to build either. */
case class GeoLookup(child: Expression, table: Broadcast[GeoTable]) extends UnaryExpression {
  override def dataType: DataType = GeoTable.attrType
  override def nullable: Boolean = true
  override def prettyName: String = "geo_lookup"
  @transient private lazy val ranges = table.value
  override protected def nullSafeEval(input: Any): Any = ranges.lookup(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[GeoTable].getName
    val b = ctx.addReferenceObj("geoBroadcast", table, classOf[Broadcast[_]].getName)
    val t = ctx.addMutableState(cls, "geoTable", v => s"$v = ($cls) $b.value();",
      forceInline = true)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $t.lookup($c);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): GeoLookup =
    copy(child = newChild)
}

object GeoLookupFunctions {
  import graft.Cols
  def geo_lookup(ip: Column, table: Broadcast[GeoTable]): Column =
    Cols.column(GeoLookup(Cols.expr(ip), table))
}
