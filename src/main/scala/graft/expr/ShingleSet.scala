package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The SORTED DISTINCT character 3-gram shingle codes of a string,
  * cp[i]·961 + cp[i+1]·31 + cp[i+2] over its code points, in ONE linear
  * scan plus one primitive sort per row — a native Catalyst Expression
  * with codegen. The equivalent `transform(sequence(1, length(t) - 2),
  * i -> ascii(substring(t, i, 1)) * 961 + …)` runs its lambda interpreted
  * and every `substring(t, i, 1)` walks the UTF-8 bytes from the start, so
  * a document cost O(len²); this costs O(len log len) and allocates one
  * int array per row.
  *
  * The input is NOT lowercased here: callers pass `lower(text)`, so the
  * lowering is exactly Spark's `lower()`, whatever case mapping the
  * session applies. Codes fit an int: 0x10FFFF·(961 + 31 + 1) < 2³¹. */
case class ShingleSet(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    ShingleSetFn.set(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.ShingleSetFn.set($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** Every 3-gram shingle code of a string in POSITION order, duplicates
  * kept — the same scan as [[ShingleSet]] without the sort, for the
  * exploded shingle stream (`TextOps.shinglesAll`). */
case class ShingleCodes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    ShingleSetFn.codes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.ShingleSetFn.codes($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleCodes =
    copy(child = newChild)
}

object ShingleSetFn {
  /** position-ordered codes; public static so generated code can call it */
  def codes(s: UTF8String): ArrayData = UnsafeArrayData.fromPrimitiveArray(scan(s))

  /** sorted distinct codes; public static so generated code can call it */
  def set(s: UTF8String): ArrayData = {
    val c = scan(s)
    java.util.Arrays.sort(c)
    var m = 0
    var i = 0
    while (i < c.length) {
      if (m == 0 || c(i) != c(m - 1)) { c(m) = c(i); m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(c, Platform.INT_ARRAY_OFFSET, m, 4)
  }

  /** One code per 3-gram position. ASCII text reads the bytes in place
    * (one code point per byte); anything else scans code points, the unit
    * of Spark's `length`/`substring`/`ascii`. */
  private def scan(s: UTF8String): Array[Int] =
    if (s.isFullAscii) {
      val out = new Array[Int](math.max(s.numBytes - 2, 0))
      var i = 0
      while (i < out.length) {
        out(i) = s.getByte(i) * 961 + s.getByte(i + 1) * 31 + s.getByte(i + 2)
        i += 1
      }
      out
    } else {
      val cps = s.toString.codePoints().toArray
      val out = new Array[Int](math.max(cps.length - 2, 0))
      var i = 0
      while (i < out.length) {
        out(i) = cps(i) * 961 + cps(i + 1) * 31 + cps(i + 2)
        i += 1
      }
      out
    }
}

object Shingle {
  import org.apache.spark.sql.graftshim.GraftColumns
  /** Column API: shingle_set(t) → sorted distinct array<int> of 3-gram codes. */
  def set(c: Column): Column = GraftColumns.column(ShingleSet(GraftColumns.expression(c)))
  /** Column API: shingle_codes(t) → array<int> of 3-gram codes by position. */
  def codes(c: Column): Column = GraftColumns.column(ShingleCodes(GraftColumns.expression(c)))
}
