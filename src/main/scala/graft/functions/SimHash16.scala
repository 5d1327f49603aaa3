package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 16-bit SimHash signature of a token array as a native codegen'd
  * Expression — the custom-Expression tier of SURVEY §7.4 applied to the
  * dedup path: one generated static call per document replaces the
  * explode → md5/conv per token → 16-vote aggregation pipeline, so the
  * signature computes entirely map-side with NO shuffle (the token
  * explode multiplied rows ~30× and re-aggregated them at 100 TB scale).
  *
  * Bit j of the signature is set when the majority of tokens have the
  * high bit of hex character j of their md5 digest set — bit-identical to
  * the declarative `sum(CASE WHEN substr(md5(w), j+1, 1) IN
  * ('8'..'f')...)` formulation the DuckDB oracle still uses
  * (hex char 2k is the high nibble of digest byte k, so its high bit is
  * byte-bit 7; char 2k+1 is the low nibble, byte-bit 3).
  */
object SimHashFunctions {

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static kernel referenced from generated code. Null array slots are
    * skipped (same as md5(null) dropping out of the vote sums).
    */
  def simHash16(words: ArrayData): Long = {
    val md = digests.get()
    val votes = new Array[Int](16)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        md.reset()
        val d = md.digest(words.getUTF8String(i).getBytes)
        var j = 0
        while (j < 16) {
          val byte = d(j >> 1)
          val bit = if ((j & 1) == 0) (byte >> 7) & 1 else (byte >> 3) & 1
          votes(j) += (if (bit == 1) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 16) {
      if (votes(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }
}

case class SimHash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash16"

  override protected def nullSafeEval(input: Any): Any =
    SimHashFunctions.simHash16(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashFunctions.simHash16($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash16 {
  val identifier: FunctionIdentifier = FunctionIdentifier("simhash16")
  val info: ExpressionInfo = new ExpressionInfo(classOf[SimHash16].getName, "simhash16")
  // arity/type checked at resolution time — same builder-coercion pattern
  // as GreatCircleDistance/MinHashSig (ExpectsInputTypes is unavailable to
  // external expressions in Spark 4).
  val builder: Seq[Expression] => Expression = {
    case Seq(e) => e.dataType match {
      case ArrayType(StringType, _) => SimHash16(e)
      case ArrayType(_, _)          => SimHash16(Cast(e, ArrayType(StringType)))
      case other => throw new IllegalArgumentException(
        s"simhash16 expects array<string>, got ${other.simpleString}")
    }
    case other => throw new IllegalArgumentException(
      s"simhash16 expects 1 argument, got ${other.size}")
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(identifier, info, builder)
}
