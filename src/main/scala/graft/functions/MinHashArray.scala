package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Row-local MinHash signature of a pre-hashed shingle array: for each
  * of k seeds, the minimum of `XXH64.hashLong(shingle, seed)` over the
  * array, with ZERO shuffle: when the per-document shingle set is
  * already in-row ([[ShingleHashes]] output), the signature is a
  * projection, not an aggregation. Signatures straight from text use
  * the fused [[ShingleMinHash]] kernel, which is bit-identical to this
  * over `shingle_hashes(text)`; this form serves callers that already
  * hold the set (the incremental probe reuses it for verification).
  *
  * An EMPTY array yields NULL (not a degenerate all-MaxValue
  * signature): a document whose shingles were all removed (e.g. the
  * hot-shingle guard) must drop out of banding exactly as it did when
  * it simply had no rows to aggregate.
  */
case class MinHashArray(child: Expression, numHashes: Int)
    // (containsNull inputs are rejected in checkInputDataTypes below —
    // compute() reads raw longs and a null slot would hash as 0)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) if numHashes >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, false) =>
      TypeCheckResult.TypeCheckFailure(s"numHashes must be >= 1, got $numHashes")
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_array expects array<bigint> with non-nullable elements, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_array"

  override def nullSafeEval(v: Any): Any =
    MinHashArray.compute(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashArray.compute($c, $numHashes);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashArray {
  /** Shared by interpreted eval and generated code (static forwarder).
    * Returns null for an empty input array (see class doc).
    */
  def compute(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val buf = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val x = arr.getLong(j)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashLong(x, i.toLong)
        if (h < buf(i)) buf(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(buf)
  }

  /** Column-API entry point. */
  def minhash_array(c: Column, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinHashArray(GraftColumnBridge.expression(c), numHashes))
}
