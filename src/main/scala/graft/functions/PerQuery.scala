package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedSeed
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{CurrentTimestamp, Expression, ExpressionWithRandomSeed, LeafExpression, Literal, Nondeterministic, UnaryExpression, UnixTimestamp}
import org.apache.spark.sql.catalyst.util.RandomUUIDGenerator
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Per-query values kept out of the generated code's text.
  *
  * Spark caches compiled classes by their source text. Its `uuid()`
  * inlines the query's random seed into the partition initializer,
  * and a folded `unix_timestamp(current_timestamp())` inlines the
  * query's epoch second as a literal, so a projection holding either
  * compiles anew on every query and every streaming micro-batch. The
  * two expressions here compute the same values but hand them to the
  * generated class through its `references` array
  * (`ctx.addReferenceObj`), so the text, and the cache key, is the
  * same from query to query.
  */
object PerQuery {

  /** `uuid()`: a random version-4 UUID string per row, freshly seeded
    * per query and per micro-batch, and repeatable on task retry. */
  def uuid: Column = GraftSqlBridge.column(QueryUuid())

  /** `unix_timestamp(current_timestamp())`: the query time in epoch
    * seconds, or the micro-batch time in a streaming query. */
  def unixNow: Column =
    GraftSqlBridge.column(QueryClock(new UnixTimestamp(CurrentTimestamp())))
}

/** Spark's `Uuid` with the seed passed by reference. As an
  * [[ExpressionWithRandomSeed]] it is seeded by the analyzer
  * (`ResolveRandomSeed`) for each query, and re-seeded by the
  * streaming engine for each micro-batch. Each partition draws from
  * `RandomUUIDGenerator(seed + partitionIndex)`, as `Uuid` does, so a
  * retried task mints the same ids again — the endpoint dedups on
  * them. */
case class QueryUuid(randomSeed: Option[Long] = None) extends LeafExpression
    with Nondeterministic with ExpressionWithRandomSeed {

  override def seedExpression: Expression =
    randomSeed.map(Literal(_)).getOrElse(UnresolvedSeed)

  override def withNewSeed(seed: Long): QueryUuid = QueryUuid(Some(seed))

  override def withShiftedSeed(shift: Long): QueryUuid =
    QueryUuid(randomSeed.map(_ + shift))

  override lazy val resolved: Boolean = randomSeed.isDefined

  override def nullable: Boolean = false

  override def dataType: DataType = StringType

  override def prettyName: String = "uuid"

  override def stateful: Boolean = true

  @transient private[this] var generator: RandomUUIDGenerator = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    generator = RandomUUIDGenerator(randomSeed.get + partitionIndex)

  override protected def evalInternal(input: InternalRow): Any =
    generator.getNextUUIDUTF8String()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seed = ctx.addReferenceObj("uuidSeed", randomSeed.get)
    val gen = ctx.addMutableState(classOf[RandomUUIDGenerator].getName,
      "uuidGen", forceInline = true)
    ctx.addPartitionInitializationStatement(s"$gen = new " +
      s"${classOf[RandomUUIDGenerator].getName}($seed.longValue() + partitionIndex);")
    ev.copy(code = code"final UTF8String ${ev.value} = $gen.getNextUUIDUTF8String();",
      isNull = FalseLiteral)
  }
}

/** A query-constant long `child` (in practice
  * `unix_timestamp(current_timestamp())`) kept from folding into a
  * literal. Its child is constant per query all the same: the optimizer
  * replaces `current_timestamp()` with the query time, and the streaming
  * engine with the micro-batch time. Code generation evaluates the
  * child once and the generated code reads the value by reference. */
case class QueryClock(child: Expression) extends UnaryExpression {

  override def foldable: Boolean = false

  override def nullable: Boolean = child.nullable

  override def dataType: DataType = LongType

  override def prettyName: String = "unix_timestamp"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clock = ctx.addReferenceObj("queryClock", child.eval(), "java.lang.Long")
    ev.copy(code = code"""
      final boolean ${ev.isNull} = $clock == null;
      final long ${ev.value} = ${ev.isNull} ? -1L : $clock.longValue();""")
  }

  override protected def withNewChildInternal(newChild: Expression): QueryClock =
    copy(child = newChild)
}
