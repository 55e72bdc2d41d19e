package org.apache.spark.sql.graftshim

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalAggregation}
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils

/** An optimized plan over driver-local rows, evaluated on the calling
  * thread with Catalyst's interpreted evaluators (the mode Spark itself
  * runs when codegen is off) instead of as Spark jobs.
  *
  * A plan qualifies when every leaf is a `LocalRelation` or a
  * `OneRowRelation` (a FROM-less SELECT: one row with no column), every node is
  * one of Project, Filter, Aggregate, Join (inner, cross, outer, semi, anti,
  * existence), Sort, Limit, Offset, Union and Expand, and no expression is
  * nondeterministic, a subquery or otherwise unevaluable, and every key it
  * compares as bytes (grouping keys, DISTINCT arguments, equi-join keys) has
  * a binary-stable type, not a collated string. By then the
  * optimizer has folded projections, filters and limits into the local
  * rows and rewritten Distinct, Intersect, Except and IN/EXISTS subqueries
  * into Aggregate and Join. Operators produce rows lazily where Spark does
  * (Project, Filter, Limit), so a limit stops its input early. */
private[graftshim] object DriverPlan {

  /** Row visits (leaf rows, rows each operator emits, join candidates
    * checked) past which the driver gives the plan back to Spark: a join
    * and group-by of two `createDataFrame` frames costs the same on both
    * paths between 80k and 120k rows a side, 400k-600k visits (DESIGN.md;
    * `DriverCrossover` re-measures it). */
  val RowBudget = 500000

  private final class OverBudget extends scala.util.control.ControlThrowable

  /** The plan's result rows, or None when it does not qualify or would
    * touch more than `budget` rows. Evaluation errors (ANSI overflow,
    * division by zero, invalid casts) are thrown as Spark would throw them. */
  def rows(plan: LogicalPlan, budget: Long = RowBudget): Option[Seq[InternalRow]] =
    if (plan.exists(!covered(_)) ||
        plan.collect { case l: LocalRelation => l.data.length.toLong }.sum > budget) None
    else {
      var touched = 0L
      def touch(n: Long): Unit = { touched += n; if (touched > budget) throw new OverBudget }
      def run(p: LogicalPlan): Iterator[InternalRow] = eval(p, run, touch)
        .map { r => touch(1); r }
      try Some(run(plan).toVector) catch { case _: OverBudget => None }
    }

  private def covered(node: LogicalPlan): Boolean = (node match {
    case l: LocalRelation => !l.isStreaming
    case _: OneRowRelation => true
    // (analysis has checked that limit and offset expressions are foldable)
    case _: Project | _: Filter | _: Aggregate | _: Sort | _: Union | _: Expand |
        _: GlobalLimit | _: LocalLimit | _: Offset => true
    case j: Join => j.joinType match {
      case _: InnerLike | LeftOuter | RightOuter | FullOuter | LeftSemi | LeftAnti |
          _: ExistenceJoin => true
      case _ => false
    }
    case _ => false
  }) && keys(node).forall(k => UnsafeRowUtils.isBinaryStable(k.dataType)) &&
    node.expressions.forall(e => e.deterministic && !e.exists {
      case _: SubqueryExpression => true
      case f: AggregateFunction =>
        !f.isInstanceOf[DeclarativeAggregate] && !f.isInstanceOf[ImperativeAggregate]
      // evaluated by their operator (attributes once bound)
      case _: Attribute | _: AggregateExpression | _: SortOrder => false
      case _: Unevaluable => true
      case _ => false
    })

  /** The expressions `eval` compares as `UnsafeRow` bytes: grouping keys,
    * DISTINCT arguments and equi-join keys. Bytes equal values only for a
    * binary-stable type; under a collation such as UTF8_LCASE 'A' and 'a'
    * are one key to Spark, so such a plan runs there. */
  private def keys(node: LogicalPlan): Seq[Expression] = node match {
    case a: Aggregate => a.groupingExpressions ++ a.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression if ae.isDistinct => ae.aggregateFunction.children
    }.flatten)
    case ExtractEquiJoinKeys(_, lk, _, _, _, _, _, _) => lk
    case _ => Nil
  }

  private def bind[A <: Expression](e: A, in: Seq[Attribute]): A =
    BindReferences.bindReference(e, in)

  private def predicate(e: Expression, in: Seq[Attribute]): InterpretedPredicate = {
    val p = Predicate.createInterpreted(bind(e, in))
    p.initialize(0)
    p
  }

  private def keyOf(es: Seq[Expression], in: Seq[Attribute]): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(es.map(bind(_, in)))

  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]

  /** One operator over its children's rows (`run`); `touch` counts join
    * candidates against the budget. Every row it emits is a fresh object. */
  private def eval(plan: LogicalPlan, run: LogicalPlan => Iterator[InternalRow],
      touch: Long => Unit): Iterator[InternalRow] = plan match {
    case l: LocalRelation => l.data.iterator
    case _: OneRowRelation => Iterator.single(new GenericInternalRow(0))
    case Project(list, child) =>
      val proj = new InterpretedProjection(list, child.output)
      run(child).map(proj)
    case Filter(cond, child) =>
      val p = predicate(cond, child.output)
      run(child).filter(p.eval)
    case Sort(order, _, child, _) =>
      run(child).toVector.sorted(new InterpretedOrdering(order, child.output)).iterator
    case GlobalLimit(n, child) => run(child).take(int(n))
    case LocalLimit(n, child) => run(child).take(int(n))
    case Offset(n, child) => run(child).drop(int(n))
    case u: Union => u.children.iterator.flatMap(run)
    case Expand(projections, _, child) =>
      val projs = projections.map(new InterpretedProjection(_, child.output))
      run(child).flatMap(r => projs.iterator.map(_(r)))
    case PhysicalAggregation(groupings, aggs, results, child) =>
      // grouping keys hold NaN and -0.0 normalized, as Spark's planner makes them
      val key = keyOf(groupings.map(NormalizeFloatingNumbers.normalize), child.output)
      val fns = aggs.map(new Agg(_, child.output))
      val groups = mutable.LinkedHashMap.empty[UnsafeRow, Seq[Acc]]
      run(child).foreach { r =>
        val accs = groups.getOrElseUpdate(key(r).copy(), fns.map(_.start()))
        fns.lazyZip(accs).foreach(_.add(_, r))
      }
      if (groupings.isEmpty && groups.isEmpty)
        groups(key(InternalRow.empty).copy()) = fns.map(_.start())
      val out = new InterpretedProjection(results,
        groupings.map(_.toAttribute) ++ aggs.map(_.resultAttribute))
      groups.iterator.map { case (k, accs) =>
        out(new JoinedRow(k, InternalRow.fromSeq(fns.lazyZip(accs).map(_.result(_)))))
      }
    case j @ Join(left, right, joinType, cond, _) =>
      val rs = run(right).toVector
      // equi-joins probe a hash table on the right keys, as Spark's hash
      // joins do (a null key matches nothing); the rest of the condition,
      // or all of it when there are no keys, is checked per candidate, and
      // candidates are charged to the budget before they are checked
      val (lefts, candidates, rest) = j match {
        case ExtractEquiJoinKeys(_, lk, rk, other, _, _, _, _) =>
          val (lkey, rkey) = (keyOf(lk, left.output), keyOf(rk, right.output))
          val table = rs.indices.groupBy(i => rkey(rs(i)).copy()).filterNot(_._1.anyNull)
          (run(left), (l: InternalRow) => {
            val k = lkey(l)
            val cs = if (k.anyNull) Nil else table.getOrElse(k, Nil)
            touch(cs.length)
            cs
          }, other)
        case _ =>
          // every pair is a candidate: all of them are charged before the
          // first is checked, so a join past the budget goes back at once
          val ls = run(left).toVector
          touch(ls.length.toLong * rs.length)
          (ls.iterator, (_: InternalRow) => rs.indices, cond)
      }
      val p = rest.map(predicate(_, left.output ++ right.output))
      def matches(l: InternalRow): Iterator[Int] =
        candidates(l).iterator.filter(i => p.forall(_.eval(new JoinedRow(l, rs(i)))))
      val (nullLeft, nullRight) =
        (new GenericInternalRow(left.output.length), new GenericInternalRow(right.output.length))
      val hit = new java.util.BitSet(rs.length)
      def pairs(l: InternalRow, outer: Boolean): Iterator[InternalRow] = {
        val m = matches(l).toVector
        m.foreach(hit.set)
        if (m.isEmpty && outer) Iterator(new JoinedRow(l, nullRight))
        else m.iterator.map(i => new JoinedRow(l, rs(i)))
      }
      def unmatchedRight: Iterator[InternalRow] =
        rs.indices.iterator.filterNot(hit.get).map(i => new JoinedRow(nullLeft, rs(i)))
      joinType match {
        case _: InnerLike => lefts.flatMap(pairs(_, outer = false))
        case LeftOuter => lefts.flatMap(pairs(_, outer = true))
        case RightOuter => lefts.flatMap(pairs(_, outer = false)) ++ unmatchedRight
        case FullOuter => lefts.flatMap(pairs(_, outer = true)) ++ unmatchedRight
        case LeftSemi => lefts.filter(matches(_).hasNext)
        case LeftAnti => lefts.filter(!matches(_).hasNext)
        case _: ExistenceJoin =>
          lefts.map(l => new JoinedRow(l, InternalRow(matches(l).hasNext)))
        case other => throw new IllegalStateException(s"uncovered join type $other")
      }
    case other => throw new IllegalStateException(s"uncovered node ${other.nodeName}")
  }

  /** One group's state of one aggregate: its buffer and, for a DISTINCT
    * aggregate, the argument tuples it has already taken. */
  private final class Acc(var buffer: InternalRow, val seen: mutable.HashSet[UnsafeRow])

  /** One aggregate in Spark's Complete mode: initial buffer, one update per
    * input row (after its FILTER and, if DISTINCT, only for a new argument
    * tuple, normalized like a grouping key), then the final value. */
  private final class Agg(ae: AggregateExpression, in: Seq[Attribute]) {
    private val filter = ae.filter.map(predicate(_, in))
    private val distinct = if (!ae.isDistinct) None
      else Some(keyOf(ae.aggregateFunction.children.map(NormalizeFloatingNumbers.normalize), in))
    private val (init, update, finish): (() => InternalRow,
        (InternalRow, InternalRow) => InternalRow, InternalRow => Any) =
      ae.aggregateFunction match {
        case d: DeclarativeAggregate =>
          val start = new InterpretedProjection(d.initialValues)
          val step = new InterpretedProjection(d.updateExpressions, d.aggBufferAttributes ++ in)
          val value = bind(d.evaluateExpression, d.aggBufferAttributes)
          (() => start(InternalRow.empty), (b, r) => step(new JoinedRow(b, r)), value.eval)
        case i: ImperativeAggregate =>
          val f = bind(i, in).withNewMutableAggBufferOffset(0).withNewInputAggBufferOffset(0)
          (() => { val b = new GenericInternalRow(f.aggBufferAttributes.length); f.initialize(b); b },
            (b, r) => { f.update(b, r); b }, f.eval)
        case other => throw new IllegalStateException(s"uncovered aggregate ${other.nodeName}")
      }

    def start(): Acc = new Acc(init(), distinct.map(_ => mutable.HashSet.empty[UnsafeRow]).orNull)
    def add(acc: Acc, r: InternalRow): Unit =
      if (filter.forall(_.eval(r)) && distinct.forall(d => acc.seen.add(d(r).copy())))
        acc.buffer = update(acc.buffer, r)
    def result(acc: Acc): Any = finish(acc.buffer)
  }
}
