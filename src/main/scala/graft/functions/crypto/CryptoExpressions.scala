package graft.functions.crypto

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `recover_signer(typed_data_json, sig_hex)` → lowercase 0x address of
  * the EIP-712 signer, or null if the payload/signature is malformed or
  * does not verify — the Spark analog of the reference write path's
  * sender recovery (/root/reference/src/node/src/mutation_utils.rs:
  * 75-127). Codegen is a static call into the crypto kernel, so the
  * expression stays inside whole-stage codegen; the work is per-row
  * independent (one joint u1·G + u2·R pass + keccak), so it scales
  * across input partitions. It does not spread a single partition: a
  * single-file input (sf0.1, the skew corpus) runs it on one task.
  */
case class RecoverSigner(payload: Expression, sig: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = payload
  override def right: Expression = sig
  // declared so mistyped inputs fail analysis instead of diverging
  // between codegen (implicit cast) and interpreted eval (ClassCast)
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(p: Any, s: Any): Any =
    Eip712.recoverAddressOrNull(
      p.asInstanceOf[UTF8String].toString, s.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, s) => {
      s"""
        ${ev.value} = graft.functions.crypto.Eip712.recoverAddressOrNull(
          $p.toString(), $s.toString());
        ${ev.isNull} = (${ev.value} == null);
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(payload = l, sig = r)
}

/** `eip712_sign(typed_data_json, key)` → 0x r‖s‖v signature hex for
  * private scalar `key` (long). Deterministic derived-k signer — the
  * fixture generator for signed-mutation tests, distributed so signing
  * happens executor-side, never in a driver loop. */
case class Eip712Sign(payload: Expression, key: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = payload
  override def right: Expression = key
  override def inputTypes: Seq[DataType] = Seq(StringType, LongType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(p: Any, k: Any): Any =
    Eip712.signOrNull(p.asInstanceOf[UTF8String].toString, k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, k) => {
      s"""
        ${ev.value} = graft.functions.crypto.Eip712.signOrNull($p.toString(), $k);
        ${ev.isNull} = (${ev.value} == null);
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(payload = l, key = r)
}
