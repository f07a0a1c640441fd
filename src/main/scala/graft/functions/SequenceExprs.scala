package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** DuckDB's sequence value functions — `nextval('s')` / `currval('s')` —
  * drawing from the [[graft.component.SequenceSql]] catalog (reference:
  * user SQL reaches DuckDB verbatim, `src/query_orchestrator.py:351`,
  * where sequences are built in).
  *
  * Both are [[Nondeterministic]]: nextval returns a different value per
  * row BY DESIGN, and currval observes session state — declaring that
  * keeps the optimizer from collapsing repeated calls (common-
  * subexpression elimination or constant folding would silently turn
  * `nextval('s'), nextval('s')` into one draw; DuckDB returns two).
  * CodegenFallback is deliberate too: the counter is a synchronized
  * catalog object, one virtual call per row, never a vectorizable hot
  * path — a surrogate-key generator, not an aggregation kernel. */
abstract class SequenceValue extends UnaryExpression
    with Nondeterministic with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  protected def draw(name: String): Long
  override protected def evalInternal(input: InternalRow): Any = {
    val n = child.eval(input)
    if (n == null)
      throw new graft.component.UserException(s"$prettyName: sequence name is NULL")
    draw(n.toString)
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a VARCHAR sequence name")
  }
}

case class NextVal(child: Expression) extends SequenceValue {
  override def prettyName: String = "nextval"
  override protected def draw(name: String): Long =
    graft.component.SequenceSql.next(name)
  override protected def withNewChildInternal(c: Expression): NextVal = copy(child = c)
}

case class CurrVal(child: Expression) extends SequenceValue {
  override def prettyName: String = "currval"
  override protected def draw(name: String): Long =
    graft.component.SequenceSql.curr(name)
  override protected def withNewChildInternal(c: Expression): CurrVal = copy(child = c)
}
