package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 4-slot MinHash signature over a shingle array as one native Catalyst
  * expression.
  *
  * Bit-identical to the SQL formulation it replaces (`explode(shingles) →
  * md5(shingle) → min(substring(h, 1+8i, 8))` for i in 0..3, grouped by
  * document, still stated by the DuckDB oracle): slot i is the minimum of
  * the i-th 32-bit word of each shingle's md5 digest. A fixed-width
  * lowercase hex minimum is the unsigned numeric minimum, so the loop
  * compares the words unsigned and renders the four winners as 8-char
  * lowercase hex. One compiled loop per document replaces a
  * shingle-cardinality row explosion, a sort on doc_id and four string
  * `SortAggregate` minima (a string buffer cannot be hash-aggregated).
  */
case class MinHash4(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // null when no shingle is non-null: every slot of the aggregate
  // formulation is then min() over nulls, i.e. null
  override def nullable: Boolean = true

  // per-task instance, as in SimHash16: digest() resets it
  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(4)(-1) // 0xffffffff, the unsigned maximum
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < 4) {
          val b = 4 * j
          val w = ((d(b) & 0xFF) << 24) | ((d(b + 1) & 0xFF) << 16) |
            ((d(b + 2) & 0xFF) << 8) | (d(b + 3) & 0xFF)
          if (Integer.compareUnsigned(w, mins(j)) < 0) mins(j) = w
          j += 1
        }
      }
      i += 1
    }
    if (!seen) null
    else new GenericArrayData(mins.map[Any] { w =>
      val h = Integer.toHexString(w) // unsigned, lowercase, unpadded
      UTF8String.fromString("00000000".substring(h.length) + h)
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHash4 =
    copy(child = newChild)
}

object MinHash4 {
  def minhash(shingles: Column): Column =
    Bridge.column(MinHash4(Bridge.expression(shingles)))
}
