package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd membership probe against a BROADCAST Bloom filter —
  * the join-pruning primitive: a huge scan side is prefiltered by a
  * small side's key sketch before any shuffle, exactly (a Bloom filter
  * has false positives, never false negatives, so rows it keeps are a
  * superset of the rows any subsequent exact join needs).
  *
  * The filter ships once per executor via the broadcast (a reference
  * object in the generated code), not per task. The probe is
  * `mightContainLong`, bit-compatible with `putLong` — the insertion
  * path of `DataFrame.stat.bloomFilter` for integral columns and of
  * Spark's `BloomFilterAggregate`. String keys are probed by their
  * `xxhash64`.
  */
case class BloomMightContainLongExpr(child: Expression,
    bloom: Broadcast[BloomFilter]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain_long requires BIGINT input, got ${child.dataType}")

  override def dataType: DataType = BooleanType

  override def nullSafeEval(v: Any): Any =
    bloom.value.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", bloom,
      classOf[Broadcast[BloomFilter]].getName)
    defineCodeGen(ctx, ev, c =>
      s"((org.apache.spark.util.sketch.BloomFilter)$ref.value())" +
        s".mightContainLong($c)")
  }

  override protected def withNewChildInternal(c: Expression)
      : BloomMightContainLongExpr = copy(child = c)
}
