package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.RandomUUIDGenerator
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** A per-query value that generated code reads by reference.
  *
  * Spark inlines a primitive `Literal` into the Java source it generates,
  * and its compiled-class cache is keyed by that source, so a
  * `lit(batchId)` compiles new classes with Janino in every micro-batch.
  * This leaf hands its value to the generated class through
  * `CodegenContext.addReferenceObj` instead: the source is the same for
  * every value, and one compile serves every batch. It is not foldable,
  * so the optimizer never turns it back into a literal. */
case class BoundLong(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

/** Spark's `uuid()` with its seed bound by reference: the analyzer gives
  * every `uuid()` a fresh seed, which Spark's own expression inlines into
  * the generated source. As there, each partition draws from its own
  * generator, seeded `seed + partitionIndex`. */
case class BoundUuid(seed: Long) extends LeafExpression with Nondeterministic {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  @transient private[this] var gen: RandomUUIDGenerator = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    gen = RandomUUIDGenerator(seed + partitionIndex)

  override protected def evalInternal(input: InternalRow): Any = gen.getNextUUIDUTF8String()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val genClass = classOf[RandomUUIDGenerator].getName
    val seedRef = ctx.addReferenceObj("uuidSeed", java.lang.Long.valueOf(seed), "java.lang.Long")
    val g = ctx.addMutableState(genClass, "uuidGen")
    ctx.addPartitionInitializationStatement(
      s"$g = new $genClass($seedRef.longValue() + partitionIndex);")
    ev.copy(code = code"final UTF8String ${ev.value} = $g.getNextUUIDUTF8String();",
      isNull = FalseLiteral)
  }
}

object Bound {

  /** `value` as a column whose generated code does not change with it. */
  def long(value: Long): Column = ColumnBridge.column(BoundLong(value))

  /** A random UUID string per row, like `uuid()`, under a seed that
    * generated code reads by reference. */
  def uuid(): Column = ColumnBridge.column(BoundUuid(scala.util.Random.nextLong()))
}
