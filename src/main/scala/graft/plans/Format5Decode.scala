package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.functions.Num

/** Native Catalyst expression for the RuuviTag format-5 decode (OP-06,
  * `/root/reference/src/bluetooth/scanner.rs:35-83`) — the optional
  * deep-path from SURVEY §7: one byte-level pass instead of the composed
  * `substring → hex → conv → cast` builtin chain (which round-trips every
  * field through two strings).
  *
  * Semantics are IDENTICAL to [[graft.functions.Format5]]:
  * sign-extended BE i16 temperature/acceleration, unsigned BE u16
  * humidity (clamped to 100 before rounding) and pressure (+50000 Pa),
  * movement byte, decode-stage rounding (2 dp / 3 dp) with the result
  * Spark `round`'s BigDecimal.valueOf + HALF_UP arithmetic gives in
  * product space (see [[graft.functions.Num.oround]]) — bit for bit, but
  * without a BigDecimal per field ([[graft.functions.Num.halfUp]]; every
  * raw value is checked in `Format5DecodeSpec`). Invalid payloads
  * (length ≠ 24 or format tag ≠ 5) decode to NULL; callers drop them
  * BEFORE decoding with
  * [[graft.functions.Format5.isValid]], which has the same truth table —
  * filtering on the decode's own `isNotNull` makes Catalyst push
  * `isnotnull(format5_decode(payload))` below the projection and decode
  * every row twice.
  *
  * Registered as the SQL function `format5_decode` by
  * [[GraftExtensions]]; codegen emits a single static call — the
  * expression participates in WholeStageCodegen like any builtin.
  */
case class Format5Decode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"format5_decode requires BINARY input, got ${child.dataType.sql}")

  override def nullable: Boolean = true

  override def dataType: DataType = Format5Decode.schema

  override def nullSafeEval(input: Any): Any =
    Format5Util.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |org.apache.spark.sql.catalyst.InternalRow ${ev.value}$$row =
         |  graft.plans.Format5Util.decode($c);
         |if (${ev.value}$$row == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}$$row;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Format5Decode =
    copy(child = newChild)

  override def prettyName: String = "format5_decode"
}

object Format5Decode {
  /** Same field names/types as [[graft.functions.Format5.decodeAll]]. */
  val schema: StructType = StructType(Seq(
    StructField("temperature", DoubleType, nullable = false),
    StructField("humidity", DoubleType, nullable = false),
    StructField("pressure", DoubleType, nullable = false),
    StructField("acceleration_x", DoubleType, nullable = false),
    StructField("acceleration_y", DoubleType, nullable = false),
    StructField("acceleration_z", DoubleType, nullable = false),
    StructField("movement_counter", LongType, nullable = false)))
}

/** Byte-level decode shared by interpreted eval and generated code (an
  * `object` gets static forwarders, so generated Java can call
  * `graft.plans.Format5Util.decode(bytes)` directly). */
object Format5Util {

  /** Mirror of Spark `round(x*10^d, 0)/10^d` (= `Num.oround`), whose
    * product rounding [[graft.functions.Num.halfUp]] reproduces bit for
    * bit without a BigDecimal per field. */
  private def roundP(x: Double, p: Double): Double = Num.halfUp(x * p) / p

  private def beU16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)

  private def beI16(b: Array[Byte], i: Int): Int = beU16(b, i).toShort.toInt

  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length != 24 || b(0) != 5) return null
    val temp = roundP(beI16(b, 1) * 0.005, 100.0)
    val hum = roundP(math.min(beU16(b, 3) * 0.0025, 100.0), 100.0)
    val press = roundP((beU16(b, 5) + 50000L) / 100.0, 100.0)
    val ax = roundP(beI16(b, 7) * 0.001, 1000.0)
    val ay = roundP(beI16(b, 9) * 0.001, 1000.0)
    val az = roundP(beI16(b, 11) * 0.001, 1000.0)
    val mov = (b(15) & 0xFF).toLong
    new GenericInternalRow(Array[Any](temp, hum, press, ax, ay, az, mov))
  }
}
