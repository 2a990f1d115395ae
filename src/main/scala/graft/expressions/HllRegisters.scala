package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BaseGenericInternalRow, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.types.{DataType, LongType}

/** One column's HLL++ registers: `words` packs them as Spark's
  * `HyperLogLogPlusPlus` does (6-bit registers, 10 to a word), read and
  * written through the `InternalRow` that `HyperLogLogPlusPlusHelper`
  * expects. Only the long accessors are meant for use. */
final class HllWords(val words: Array[Long]) extends BaseGenericInternalRow {
  override protected def genericGet(i: Int): Any = words(i)
  override def numFields: Int = words.length
  override def getLong(i: Int): Long = words(i)
  override def setLong(i: Int, v: Long): Unit = words(i) = v
  override def update(i: Int, v: Any): Unit = words(i) = v.asInstanceOf[Long]
  override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException("HLL++ registers are never null")
}

/** `approx_count_distinct` with its registers in one typed buffer.
  *
  * Spark's `HyperLogLogPlusPlus` is an `ImperativeAggregate` with one LONG
  * buffer field per 10 registers: 410 fields at rsd 0.02, 52 at the default
  * 0.05. Every task then generates and canonicalizes projections over all
  * of them before it reads a row. This aggregate keeps the same words in
  * one `long[]` ([[HllWords]]), so the plan carries a single binary buffer
  * field and the planner picks `ObjectHashAggregateExec`. Update, merge and
  * estimate call Spark's `HyperLogLogPlusPlusHelper`, so the hash, the
  * registers and the estimate are bit-identical to `approx_count_distinct`.
  * `plans.HllRegistersRule` swaps it in for every `HyperLogLogPlusPlus`.
  */
case class HllRegisters(
    child: Expression,
    relativeSD: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllWords] with UnaryLike[Expression] {

  @transient private lazy val helper = new HyperLogLogPlusPlusHelper(relativeSD)

  override def prettyName: String = "approx_count_distinct"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def defaultResult: Option[Literal] = Some(Literal.create(0L, LongType))

  override def createAggregationBuffer(): HllWords = new HllWords(new Array[Long](helper.numWords))

  override def update(buf: HllWords, input: InternalRow): HllWords = {
    val v = child.eval(input)
    if (v != null) helper.update(buf, 0, v, child.dataType)
    buf
  }

  override def merge(buf: HllWords, other: HllWords): HllWords = {
    helper.merge(buf, other, 0, 0)
    buf
  }

  override def eval(buf: HllWords): Any = helper.query(buf, 0)

  override def serialize(buf: HllWords): Array[Byte] = {
    val bytes = ByteBuffer.allocate(buf.words.length * 8)
    bytes.asLongBuffer().put(buf.words)
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): HllWords = {
    val words = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(words)
    new HllWords(words)
  }

  override def withNewMutableAggBufferOffset(o: Int): HllRegisters = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllRegisters = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllRegisters = copy(child = c)
}
