package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DotLong, SqDistLong}

/** DotLong / SqDistLong input contract: NULL on unequal lengths, a null
  * element or a null array (the `aggregate(zip_with(...))` semantics the
  * kernels replaced), never a silent number. Each case runs through both
  * the interpreted `eval` and the generated code. */
class LongKernelSpec extends AnyFunSuite {

  private val arr = ArrayType(LongType, containsNull = true)
  private val a = BoundReference(0, arr, nullable = true)
  private val b = BoundReference(1, arr, nullable = true)

  private def longs(xs: Any*): GenericArrayData = new GenericArrayData(xs.toArray)

  /** (dot, sqdist) per path; None = NULL. */
  private def both(l: GenericArrayData, r: GenericArrayData): Seq[(Option[Long], Option[Long])] = {
    val row = InternalRow(l, r)
    val kernels: Seq[Expression] = Seq(DotLong(a, b), SqDistLong(a, b))
    val interpreted = kernels.map(k => Option(k.eval(row)).map(_.asInstanceOf[Long]))
    val out = GenerateUnsafeProjection.generate(kernels).apply(row)
    val generated = kernels.indices.map(i => if (out.isNullAt(i)) None else Some(out.getLong(i)))
    Seq((interpreted(0), interpreted(1)), (generated(0), generated(1)))
  }

  test("equal lengths: exact dot product and squared distance") {
    both(longs(1L, 2L, 3L), longs(4L, 5L, 6L)).foreach { r =>
      assert(r === ((Some(32L), Some(27L))))
    }
  }

  test("length mismatch is NULL") {
    both(longs(1L, 2L, 3L), longs(1L, 2L)).foreach { r =>
      assert(r === ((None, None)))
    }
  }

  test("a null element is NULL") {
    both(longs(1L, null, 3L), longs(4L, 5L, 6L)).foreach { r =>
      assert(r === ((None, None)))
    }
  }

  test("a null array is NULL") {
    both(null, longs(1L)).foreach { r =>
      assert(r === ((None, None)))
    }
  }
}
