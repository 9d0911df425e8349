package graft.functions

import scala.collection.immutable.HashSet

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{
  Expression, InSet, LeafExpression, Predicate, UnaryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** A named hole in a plan that is planned once and run many times with
  * different values: a typed leaf that analysis accepts as resolved and
  * that nothing can evaluate, so a plan still holding one cannot run.
  * [[Slot.bind]] replaces every slot of a plan with a value.
  */
case class Slot(name: String, dataType: DataType) extends LeafExpression with Unevaluable {
  override def nullable: Boolean = false
  override def toString: String = s"slot($name)"
}

/** `child IN <the string set bound to name>`: a set slot. It is a
  * predicate of its own, not `In(child, Seq(slot))`, because the
  * optimizer rewrites a one-element `In` into `child = slot`, and a
  * physical plan prepared over slots must still hold the set slot as a
  * set.
  */
case class SetSlot(child: Expression, name: String) extends UnaryExpression with Predicate with Unevaluable {
  override def nullable: Boolean = child.nullable
  override def toString: String = s"$child IN slot($name)"
  override protected def withNewChildInternal(newChild: Expression): SetSlot = copy(child = newChild)
}

object Slot {

  /** A scalar slot as a Column. */
  def column(name: String, dataType: DataType): Column = Shim.column(Slot(name, dataType))

  /** `e IN <the string set bound to name>`. */
  def in(e: Column, name: String): Column = Shim.column(SetSlot(Shim.expression(e), name))

  /** `plan`, an analyzed logical plan or a physical plan prepared over
    * slots, with each scalar slot replaced by its expression in `values`
    * and each set slot by one [[stringSet]] over its strings in `sets`.
    * Only the nodes on the way to a slot are copied; every other
    * subtree, the view's relation included, is shared with `plan`. A
    * copied physical node takes the thread's active session.
    */
  def bind[P <: QueryPlan[P]](
      plan: P,
      values: Map[String, Expression],
      sets: Map[String, Seq[String]]): P =
    plan.transformAllExpressions {
      case SetSlot(e, n) => stringSet(e, sets(n))
      case Slot(n, _)    => values(n)
    }

  /** `e IN values` as one `InSet`, which the file source still receives
    * as a pushed `In`. Always a `HashSet`: the generated code casts the
    * set to its runtime class, and Scala's own sets of up to four
    * elements are classes of their own (`Set1`…`Set4`).
    */
  def stringSet(e: Expression, values: Seq[String]): Expression =
    InSet(e, HashSet.from[Any](values.map(UTF8String.fromString)))
}
