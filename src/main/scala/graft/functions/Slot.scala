package graft.functions

import scala.collection.immutable.HashSet

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Expression, InSet, LeafExpression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** A named hole in a plan that is planned once and run many times with
  * different values: a typed leaf that analysis accepts as resolved.
  * There are two ways to fill it:
  *
  *   - [[Slot.bind]] replaces every slot of a logical plan with a value,
  *     for a plan that Spark runs as a job on executor threads (a
  *     DataFrame).
  *   - A physical plan that keeps its slots reads each one from the
  *     current run's [[Binding]] (see [[Binding.run]]). Generated code
  *     reads it once per run, in a partition-initialization statement,
  *     so per row a slot costs a field read, and the code, compiled
  *     once, serves every binding.
  *
  * Outside a run, a slot still cannot be evaluated: a plan holding one
  * that is neither bound nor run under a [[Binding]] fails.
  */
case class Slot(name: String, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def toString: String = s"slot($name)"

  /** The current run's value of this slot, a Catalyst value. */
  def value(): Any = Binding.current.values(name)

  override def eval(input: InternalRow): Any = value()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("slot", this)
    val javaType = CodeGenerator.javaType(dataType)
    val v = ctx.addMutableState(javaType, "slotValue")
    val read =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $ref.value()).${javaType}Value()"
      else s"($javaType) $ref.value()"
    ctx.addPartitionInitializationStatement(s"$v = $read;")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(v, dataType))
  }
}

/** `child IN <the string set bound to name>`: a set slot. It is a
  * predicate of its own, not `In(child, Seq(slot))`, because the
  * optimizer rewrites a one-element `In` into `child = slot`, and a
  * physical plan prepared over slots must still hold the set slot as a
  * set. Like [[Slot]], it reads the current run's [[Binding]].
  */
case class SetSlot(child: Expression, name: String) extends UnaryExpression with Predicate {
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def toString: String = s"$child IN slot($name)"
  override protected def withNewChildInternal(newChild: Expression): SetSlot = copy(child = newChild)

  /** The current run's set for this slot, of `UTF8String`s. */
  def set(): Set[Any] = Binding.current.sets(name)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else set().contains(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("slot", this)
    val s = ctx.addMutableState("scala.collection.immutable.Set", "slotSet")
    ctx.addPartitionInitializationStatement(s"$s = $ref.set();")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $s.contains($c);")
  }
}

/** One run's inputs to a physical plan that keeps its slots: the value
  * of each scalar slot (a Catalyst value: `UTF8String` for a string,
  * micros for a timestamp), the strings of each set slot, and what the
  * plan's scan reads: the one input split and the filters pushed to the
  * file source. `rowsRead` counts the rows the scan produced in the
  * last run under this binding.
  */
final class Binding(
    val values: Map[String, Any],
    val sets: Map[String, Set[Any]],
    val split: FilePartition,
    val filters: Array[Filter]) {
  var rowsRead = 0L
}

object Binding {
  private val local = new ThreadLocal[Binding]

  /** A binding of `values` (each scalar slot's bound expression, as
    * for [[Slot.bind]]) and `sets`, reading `split` and pushing
    * `filters`.
    */
  def apply(
      values: Map[String, Expression],
      sets: Map[String, Seq[String]],
      split: FilePartition,
      filters: Array[Filter]): Binding =
    new Binding(
      values.map { case (n, e) => n -> e.eval() },
      sets.map { case (n, s) => n -> utf8Set(s) },
      split,
      filters)

  /** The binding of the run on this thread. */
  def current: Binding = {
    val b = local.get()
    if (b == null) throw new IllegalStateException("a slot was read outside a run: no binding on this thread")
    b
  }

  /** `body`, a run on this thread, with `b` as its binding; the thread
    * holds no binding afterwards, whatever happens.
    */
  def run[T](b: Binding)(body: => T): T = {
    b.rowsRead = 0L
    local.set(b)
    try body
    finally local.remove()
  }

  /** Always a `HashSet`: generated code casts a set to its runtime
    * class, and Scala's own sets of up to four elements are classes of
    * their own (`Set1`…`Set4`).
    */
  private[functions] def utf8Set(values: Seq[String]): Set[Any] =
    HashSet.from[Any](values.map(UTF8String.fromString))
}

object Slot {

  /** A scalar slot as a Column. */
  def column(name: String, dataType: DataType): Column = Shim.column(Slot(name, dataType))

  /** `e IN <the string set bound to name>`. */
  def in(e: Column, name: String): Column = Shim.column(SetSlot(Shim.expression(e), name))

  /** `plan`, an analyzed logical plan over slots, with each scalar slot
    * replaced by its expression in `values` and each set slot by one
    * [[stringSet]] over its strings in `sets`. Only the nodes on the
    * way to a slot are copied; every other subtree, the view's relation
    * included, is shared with `plan`.
    */
  def bind(plan: LogicalPlan, values: Map[String, Expression], sets: Map[String, Seq[String]]): LogicalPlan =
    plan.transformAllExpressions(binder(values, sets))

  /** `e` with its slots replaced as in [[bind]]. */
  def bind(e: Expression, values: Map[String, Expression], sets: Map[String, Seq[String]]): Expression =
    e.transform(binder(values, sets))

  private def binder(
      values: Map[String, Expression],
      sets: Map[String, Seq[String]]): PartialFunction[Expression, Expression] = {
    case SetSlot(e, n) => stringSet(e, sets(n))
    case Slot(n, _)    => values(n)
  }

  /** `e IN values` as one `InSet`, which the file source still receives
    * as a pushed `In`.
    */
  def stringSet(e: Expression, values: Seq[String]): Expression = InSet(e, Binding.utf8Set(values))
}
