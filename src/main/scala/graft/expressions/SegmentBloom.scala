package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Kernel for the manifest-level bloom probe: deserialize one segment's
  * serialized sketch ([[org.apache.spark.util.sketch.BloomFilter]] wire
  * format, the same bytes Spark's own `BloomFilterAggregate` emits) and
  * test a pre-hashed key. The index's point-lookup probe
  * (`GraftIndex.keyCandidates`) runs it in the driver over sketches it
  * decodes once per sidecar segment and caches; the expression below runs
  * it per row. */
object SegmentBloomKernels {
  def decode(bloom: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bloom))

  def mightContain(bloom: Array[Byte], hash: Long): Boolean =
    decode(bloom).mightContainLong(hash)
}

/** might-contain over a serialized bloom COLUMN — the built-in
  * `BloomFilterMightContain` insists its bloom side is a constant or scalar
  * subquery (it was built for runtime join filtering); this one takes the
  * bloom as an ordinary column, so a whole TABLE of per-segment blooms can
  * be probed with one filter in SQL. The index probes in the driver
  * instead, over cached decoded sketches, so a lookup pays no job; this
  * expression is the distributed reference that probe is tested against.
  * Null-intolerant: a null bloom or key
  * yields null, which callers treat as a conservative HIT (scan the
  * segment) rather than a prune. Corrupt bloom bytes throw — fail-loud
  * beats silently pruning a segment that held the answer. */
case class SegmentBloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression with Predicate {
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"segment_bloom_might_contain expects (binary, bigint), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def nullSafeEval(bloom: Any, hash: Any): Any =
    SegmentBloomKernels.mightContain(
      bloom.asInstanceOf[Array[Byte]], hash.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, h) => s"""
      ${ev.value} = graft.expressions.SegmentBloomKernels.mightContain($b, $h);
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SegmentBloomMightContain =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "segment_bloom_might_contain"
}
