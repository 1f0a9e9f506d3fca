package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeSet, BindReferences, BoundReference, Expression, GenericInternalRow, JoinedRow, PredicateHelper, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._

/** Match direction of the as-of join. */
sealed trait AsOfDirection extends Serializable
object AsOfDirection {
  /** Latest right row with time ≤ left time (the classic as-of). */
  case object Backward extends AsOfDirection
  /** Earliest right row with time ≥ left time. */
  case object Forward extends AsOfDirection
  /** Right row minimizing |right time − left time|; ties prefer the
    * backward (earlier) match. Requires a long-backed time type.
    */
  case object Nearest extends AsOfDirection
}

/** Native as-of join — the whole-operator customization tier
  * (SURVEY §3): a logical node, a planner strategy, and a sort-merge
  * physical operator, registered through `extraStrategies` /
  * `SparkSessionExtensions`.
  *
  * Semantics: for every left row, attach the single right row with
  * equal key(s) and the direction's best time (LEFT OUTER: unmatched
  * left rows keep nulls) — backward is the DuckDB `ASOF LEFT JOIN`
  * contract the oracle uses. A null key or time never matches (null
  * left rows emit null right columns; null right rows are skipped),
  * matching SQL ASOF null semantics. Keys may be composite
  * (lexicographic over the key list).
  *
  * Scale design: both sides hash-cluster on the key(s) and sort within
  * partitions by (keys, time) — one shuffle each, then a streaming
  * single-pass per-partition merge with O(1) state (the last right row
  * seen per key, plus the blocked head for forward/nearest). No
  * windowed union materialization, no broadcast requirement, skew
  * bounded by per-key density like any sort-merge join.
  *
  * Hot-path shape: key/time extraction is a code-generated
  * `UnsafeProjection` per side (not interpreted `Expression.eval`),
  * the blocked right head's key/time are cached between left rows
  * (not re-evaluated per left row), and the only per-row allocation is
  * one copy per CONSUMED right row. A single long-backed key and time
  * (long/int/short/byte/date/timestamp/timestamp_ntz) take a primitive
  * comparison path; composite keys or other orderable types (string,
  * decimal, double) run interpreted lexicographic orderings over the
  * projected key rows.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    leftTime: Expression,
    rightKeys: Seq[Expression],
    rightTime: Expression,
    direction: AsOfDirection = AsOfDirection.Backward,
    tolerance: Option[Long] = None)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: Catalyst's ColumnPruning can't see through a custom
  * node, so without this a wide right/left table would be scanned in
  * full even when the query projects two columns. Inserting Projects
  * under the as-of node lets FileSourceStrategy prune the parquet
  * ReadSchema at physical planning. Fires for a Project above the
  * as-of node with any chain of Filters in between (their condition
  * references are kept). Idempotent (fires only while it shrinks a
  * side).
  */
object PruneAsOfJoinColumns extends Rule[LogicalPlan] {

  /** Descend through a chain of Filters; return the as-of node (if
    * that's what the chain bottoms out in) plus the filters' combined
    * references.
    */
  private def throughFilters(plan: LogicalPlan): Option[(AsOfJoinPlan, AttributeSet)] =
    plan match {
      case a: AsOfJoinPlan => Some((a, AttributeSet.empty))
      case Filter(cond, child) =>
        throughFilters(child).map { case (a, refs) => (a, refs ++ cond.references) }
      case _ => None
    }

  /** Rebuild the Filter chain over a replaced as-of node. */
  private def rebuild(plan: LogicalPlan, newAsOf: LogicalPlan): LogicalPlan =
    plan match {
      case _: AsOfJoinPlan => newAsOf
      case f @ Filter(_, child) => f.copy(child = rebuild(child, newAsOf))
      case other => other
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(_, child) if throughFilters(child).isDefined =>
      val (a, filterRefs) = throughFilters(child).get
      val used = p.references ++ filterRefs ++
        AttributeSet((a.leftKeys ++ a.rightKeys ++ Seq(a.leftTime, a.rightTime))
          .flatMap(_.references))
      val neededL = a.left.output.filter(used.contains)
      val neededR = a.right.output.filter(used.contains)
      if (neededL.length < a.left.output.length ||
          neededR.length < a.right.output.length) {
        val newLeft = if (neededL.length < a.left.output.length)
          Project(neededL, a.left) else a.left
        val newRight = if (neededR.length < a.right.output.length)
          Project(neededR, a.right) else a.right
        p.copy(child = rebuild(child, a.copy(left = newLeft, right = newRight)))
      } else p
  }
}

/** Optimizer rule: PREDICATE pushdown through the as-of node — the
  * pruning rule's twin (Catalyst's PushPredicateThroughJoin only
  * understands `Join`, so a filter above the custom node would
  * otherwise run after the join's two shuffles and sorts). A
  * deterministic conjunct referencing only LEFT columns commutes with
  * the join: every output row extends exactly one left row (left
  * outer, one best match), so filtering left input first is
  * equivalent — and once below, FileSourceStrategy turns it into a
  * parquet PushedFilter, shrinking the scan AND the shuffle. RIGHT
  * predicates never push: a right row that fails the filter must
  * still lose the "latest ≤ t" race (pushing would promote an older
  * row to match), and unmatched-left null rows must survive — the
  * same reason outer-join right predicates don't push. Idempotent:
  * fires only while a pushable conjunct remains above the node.
  */
object PushAsOfJoinFilters extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, a: AsOfJoinPlan) =>
      val leftOut = AttributeSet(a.left.output)
      val (push, keep) = splitConjunctivePredicates(cond).partition(c =>
        c.deterministic && c.references.nonEmpty &&
          c.references.subsetOf(leftOut))
      if (push.isEmpty) f
      else {
        val pushed = a.copy(left = Filter(push.reduce(And), a.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, rk, rt, dir, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, dir, tol) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    leftTime: Expression,
    rightKeys: Seq[Expression],
    rightTime: Expression,
    direction: AsOfDirection,
    tolerance: Option[Long] = None)
  extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  /** Fixed-width long-backed types read without boxing. */
  private def longGetter(dt: DataType): Option[(InternalRow, Int) => Long] = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      Some((r, i) => r.getLong(i))
    case IntegerType | DateType => Some((r, i) => r.getInt(i).toLong)
    case ShortType => Some((r, i) => r.getShort(i).toLong)
    case ByteType => Some((r, i) => r.getByte(i).toLong)
    case _ => None
  }

  /** The single-long-key, long-backed-time shape the fast interpreted
    * merge specializes to.
    */
  private lazy val primitivePath: Boolean = leftKeys.length == 1 &&
    longGetter(leftKeys.head.dataType).isDefined &&
    longGetter(leftTime.dataType).isDefined

  /** Key types the GENERATED merge can hold as class-level cached
    * state and compare with `ctx.genComp`: fixed-width long-backed
    * types plus string/double/float/boolean/decimal, and orderable
    * ARRAY/STRUCT keys. (Strings cache as cloned UTF8Strings and
    * arrays/structs as `.copy()`s — the sorter reuses its row buffer,
    * so a cached view must be detached; Decimals need no clone
    * because `getDecimal` materializes a fresh object on every read.
    * genComp emits `compare` for atomics and a generated element/
    * field-wise comparator for arrays/structs.) Remaining fallback,
    * pinned by AsOfJoinSpec: any NON-long-backed time — that takes
    * the interpreted merge below. (Map keys are not orderable in
    * Spark at all: the required child sort rejects them upstream.)
    */
  private def codegenKeyType(dt: DataType): Boolean = dt match {
    case _ if longGetter(dt).isDefined => true
    case StringType | DoubleType | FloatType | BooleanType => true
    case _: DecimalType => true
    case _: ArrayType | _: StructType => RowOrdering.isOrderable(dt)
    case _ => false
  }

  // ------------------------------------------------------------------
  // Whole-stage codegen: the merge loop is generated into the
  // surrounding stage like SortMergeJoinExec — left rows stream
  // through the fused pipeline, the blocked right head's key/time and
  // the last consumed match live as class-level state, and output
  // columns flow to the parent as vars (no per-row UnsafeProjection
  // materialization, no iterator hop into the downstream operator).
  // Covers any key list of orderable types (single long key is
  // just the one-field case; composite/string/decimal/array/struct
  // keys compare through per-type ctx.genComp chains) with a
  // long-backed time. A non-long-backed time keeps the interpreted
  // doExecute below (supportCodegen=false → Spark plans the children
  // as their own codegen stages, exactly the pre-codegen behavior).
  // ------------------------------------------------------------------

  override lazy val supportCodegen: Boolean =
    longGetter(leftTime.dataType).isDefined &&
      leftKeys.forall(k => codegenKeyType(k.dataType))

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // output rows reference the streamed left row and the buffered right
  // row; a buffering parent (sort, limit) must copy
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val keyDts = leftKeys.map(_.dataType)
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "asofLeftInput",
      v => s"$v = inputs[0];")
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "asofRightInput",
      v => s"$v = inputs[1];")
    // blocked right head + its cached keys/time (valid while headRow != null)
    val headRow = ctx.addMutableState("InternalRow", "asofHeadRow")
    val hk = keyDts.map(dt =>
      ctx.addMutableState(CodeGenerator.javaType(dt), "asofHeadKey"))
    val ht = ctx.addMutableState("long", "asofHeadTime")
    // last consumed right row (copied — the sorter reuses its buffer)
    val lastMatch = ctx.addMutableState("InternalRow", "asofLastMatch")
    val matchKey = keyDts.map(dt =>
      ctx.addMutableState(CodeGenerator.javaType(dt), "asofMatchKey"))
    val matchTime = ctx.addMutableState("long", "asofMatchTime")
    val haveMatch = ctx.addMutableState("boolean", "asofHaveMatch")

    // a cached key must not alias the sorter's reused row buffer
    // (arrays/structs read as views over it — detach with copy())
    def retained(dt: DataType, v: String): String = dt match {
      case StringType => s"$v.clone()"
      case _: ArrayType | _: StructType => s"$v.copy()"
      case _ => v
    }
    def keysEqual(as: Seq[String], bs: Seq[String]): String =
      keyDts.indices.map(i =>
        s"(${ctx.genComp(keyDts(i), as(i), bs(i))} == 0)").mkString(" && ")

    // headReady(): pull right rows until one with non-null keys+time
    // blocks; safe to hold the sorter's row uncopied because next() is
    // never called while a head is blocked
    val rRow = ctx.freshName("rightRow")
    ctx.INPUT_ROW = rRow
    ctx.currentVars = null
    val rKeyEvs = rightKeys.map(k =>
      BindReferences.bindReference(k, right.output).genCode(ctx))
    val rTimeEv = BindReferences.bindReference(rightTime, right.output).genCode(ctx)
    val rNotNull = (rKeyEvs :+ rTimeEv).map(e => s"!(${e.isNull})").mkString(" && ")
    val headReady = ctx.addNewFunction("asofHeadReady",
      s"""
         |private boolean asofHeadReady() {
         |  while ($headRow == null && $rightInput.hasNext()) {
         |    InternalRow $rRow = (InternalRow) $rightInput.next();
         |    ${rKeyEvs.map(_.code.toString).mkString("\n")}
         |    ${rTimeEv.code}
         |    if ($rNotNull) {
         |      ${keyDts.indices.map(i =>
                  s"${hk(i)} = ${retained(keyDts(i), rKeyEvs(i).value.toString)};")
                  .mkString("\n      ")}
         |      $ht = (long) ${rTimeEv.value};
         |      $headRow = $rRow;
         |    }
         |  }
         |  return $headRow != null;
         |}
       """.stripMargin)

    val lRow = ctx.freshName("leftRow")
    ctx.INPUT_ROW = lRow
    ctx.currentVars = null
    val lKeyEvs = leftKeys.map(k =>
      BindReferences.bindReference(k, left.output).genCode(ctx))
    val lTimeEv = BindReferences.bindReference(leftTime, left.output).genCode(ctx)
    val lNotNull = (lKeyEvs :+ lTimeEv).map(e => s"!(${e.isNull})").mkString(" && ")
    val k = keyDts.map(_ => ctx.freshName("leftKey"))
    val t = ctx.freshName("leftTime")
    val matched = ctx.freshName("matched")
    val back = ctx.freshName("back")
    val ahead = ctx.freshName("ahead")
    val advancing = ctx.freshName("advancing")
    val headCmp = ctx.freshName("headCmp")
    val tol = tolerance.getOrElse(Long.MaxValue)

    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    // right columns read through the matched row, null when unmatched
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("asofRIsNull")
      val value = ctx.freshName("asofRValue")
      val jt = CodeGenerator.javaType(a.dataType)
      val dv = CodeGenerator.defaultValue(a.dataType)
      val gv = CodeGenerator.getValue(matched, a.dataType, i.toString)
      ExprCode(
        code"""boolean $isNull = ($matched == null) || $matched.isNullAt($i);
$jt $value = $isNull ? $dv : ($gv);""",
        JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, a.dataType))
    }

    // backward/nearest consume rows at-or-before t (remembering the
    // newest); forward discards rows strictly before t and matches the
    // blocked head itself
    val headLe =
      if (direction == AsOfDirection.Forward) s"$ht < $t" else s"$ht <= $t"
    val consumeHead =
      if (direction == AsOfDirection.Forward) ""
      else s"""$lastMatch = $headRow.copy();
         |        ${keyDts.indices.map(i => s"${matchKey(i)} = ${hk(i)};")
                    .mkString("\n        ")}
         |        $matchTime = $ht;
         |        $haveMatch = true;""".stripMargin
    val select = direction match {
      case AsOfDirection.Backward => s"$matched = $back;"
      case AsOfDirection.Forward => s"$matched = $ahead;"
      case AsOfDirection.Nearest =>
        // closest by |Δt|; ties prefer the backward match
        s"""if ($back == null) { $matched = $ahead; }
           |    else if ($ahead == null) { $matched = $back; }
           |    else { $matched = ($t - $matchTime <= $ht - $t) ? $back : $ahead; }""".stripMargin
    }

    // lexicographic compare of the cached head keys vs the left keys
    val cmpSteps = keyDts.zipWithIndex.map { case (dt, i) =>
      val c = ctx.genComp(dt, hk(i), k(i))
      if (i == 0) s"int $headCmp = $c;"
      else s"if ($headCmp == 0) { $headCmp = $c; }"
    }.mkString("\n      ")

    s"""
       |while ($leftInput.hasNext()) {
       |  InternalRow $lRow = (InternalRow) $leftInput.next();
       |  ${lKeyEvs.map(_.code.toString).mkString("\n")}
       |  ${lTimeEv.code}
       |  InternalRow $matched = null;
       |  if ($lNotNull) {
       |    ${keyDts.indices.map(i =>
            s"final ${CodeGenerator.javaType(keyDts(i))} ${k(i)} = ${lKeyEvs(i).value};")
            .mkString("\n    ")}
       |    final long $t = (long) ${lTimeEv.value};
       |    boolean $advancing = true;
       |    while ($advancing && $headReady()) {
       |      $cmpSteps
       |      if ($headCmp < 0 || ($headCmp == 0 && $headLe)) {
       |        $consumeHead
       |        $headRow = null;
       |      } else {
       |        $advancing = false;
       |      }
       |    }
       |    // a candidate beyond the tolerance is no match at all
       |    InternalRow $back =
       |      ($haveMatch && ${keysEqual(matchKey, k)} && $t - $matchTime <= ${tol}L)
       |        ? $lastMatch : null;
       |    InternalRow $ahead =
       |      ($headRow != null && ${keysEqual(hk, k)} && $ht - $t <= ${tol}L)
       |        ? $headRow : null;
       |    $select
       |  }
       |  ${consume(ctx, leftVars ++ rightVars).trim}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val nKeys = leftKeys.length
    val keyDts = leftKeys.map(_.dataType)
    val timeDt = leftTime.dataType
    val dir = direction
    // None -> unbounded; the merge then treats every candidate as in
    // range without a per-row Option hop
    val tol = tolerance.getOrElse(Long.MaxValue)
    val primitive = primitivePath
    val lKtExprs = leftKeys :+ leftTime
    val rKtExprs = rightKeys :+ rightTime

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // codegen'd (keys..., time) extraction — one projection per
      // side, reused buffer, no per-row interpreted eval
      val lKt = UnsafeProjection.create(
        lKtExprs.map(BindReferences.bindReference(_, lOut)))
      val rKt = UnsafeProjection.create(
        rKtExprs.map(BindReferences.bindReference(_, rOut)))
      // right attrs must be read as nullable: unmatched left rows feed
      // an all-null right row, and a non-nullable BoundReference would
      // skip the null check and read garbage (0.0) instead
      val proj = UnsafeProjection.create(outAttrs,
        lOut ++ rOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      def anyNull(kt: InternalRow): Boolean = {
        var i = 0
        while (i <= nKeys) { if (kt.isNullAt(i)) return true; i += 1 }
        false
      }

      if (primitive) {
        val getKey = longGetter(keyDts.head).get
        val getTime = longGetter(timeDt).get
        // last consumed right row for the current key (already copied)
        var lastMatch: InternalRow = null
        var matchKey = 0L
        var matchTime = 0L
        var haveMatch = false
        // blocked right head, its key/time cached until consumed
        var headRow: InternalRow = null
        var hk = 0L
        var ht = 0L

        def headReady(): Boolean = {
          while (headRow == null && rIter.hasNext) {
            val r = rIter.next()
            val kt = rKt(r)
            if (!kt.isNullAt(0) && !kt.isNullAt(1)) {
              hk = getKey(kt, 0) // width-honest read (int-backed types)
              ht = getTime(kt, 1)
              headRow = r
            } // right rows with null key/time can never match — skip
          }
          headRow != null
        }

        lIter.map { lRow =>
          val kt = lKt(lRow)
          if (kt.isNullAt(0) || kt.isNullAt(1)) {
            proj(joined(lRow, nullRight))
          } else {
            val k = getKey(kt, 0)
            val t = getTime(kt, 1)
            var advancing = true
            while (advancing && headReady()) {
              // backward/nearest consume rows at-or-before t
              // (remembering the newest); forward discards rows
              // strictly before t and matches the blocked head itself
              if (hk < k || (hk == k &&
                  (if (dir == AsOfDirection.Forward) ht < t else ht <= t))) {
                if (dir != AsOfDirection.Forward) {
                  lastMatch = headRow.copy() // one copy per consumed right row
                  matchKey = hk
                  matchTime = ht
                  haveMatch = true
                }
                headRow = null
              } else advancing = false
            }
            // a candidate beyond the tolerance is no match at all
            val back = if (haveMatch && matchKey == k && t - matchTime <= tol)
              lastMatch else null
            val ahead = if (headRow != null && hk == k && ht - t <= tol)
              headRow else null
            val rMatch = dir match {
              case AsOfDirection.Backward => if (back != null) back else nullRight
              case AsOfDirection.Forward => if (ahead != null) ahead else nullRight
              case AsOfDirection.Nearest =>
                // closest by |Δt|; ties prefer the backward match
                if (back == null && ahead == null) nullRight
                else if (ahead == null) back
                else if (back == null) ahead
                else if (t - matchTime <= ht - t) back
                else ahead
            }
            proj(joined(lRow, rMatch))
          }
        }
      } else {
        // composite keys / generic orderable types: interpreted
        // lexicographic orderings over the projected (keys, time) rows.
        // ordKeys reads fields 0..nKeys-1; ordFull additionally breaks
        // ties on the time field — so "head is consumable" is a single
        // ordFull comparison.
        val ordKeys = RowOrdering.createNaturalAscendingOrdering(keyDts)
        val ordFull = RowOrdering.createNaturalAscendingOrdering(keyDts :+ timeDt)
        // Nearest needs a numeric time distance (validated at build)
        val getTime: (InternalRow, Int) => Long =
          longGetter(timeDt).getOrElse((_, _) => 0L)

        var lastMatch: InternalRow = null
        var matchKt: UnsafeRow = null
        var haveMatch = false
        var headRow: InternalRow = null
        var headKt: UnsafeRow = null

        def headReady(): Boolean = {
          while (headRow == null && rIter.hasNext) {
            val r = rIter.next()
            val kt = rKt(r)
            if (!anyNull(kt)) {
              headKt = kt.copy() // projection buffer is reused — retain
              headRow = r
            }
          }
          headRow != null
        }

        lIter.map { lRow =>
          val kt = lKt(lRow)
          if (anyNull(kt)) {
            proj(joined(lRow, nullRight))
          } else {
            var advancing = true
            while (advancing && headReady()) {
              val c = ordFull.compare(headKt, kt)
              // backward/nearest: consume head ≤ (keys, t); forward:
              // consume strictly below — the blocked head may BE the
              // match
              if (c < 0 || (c == 0 && dir != AsOfDirection.Forward)) {
                if (dir != AsOfDirection.Forward) {
                  lastMatch = headRow.copy()
                  matchKt = headKt
                  haveMatch = true
                }
                headRow = null
              } else advancing = false
            }
            val tL = getTime(kt, nKeys)
            val back =
              if (haveMatch && ordKeys.compare(matchKt, kt) == 0 &&
                tL - getTime(matchKt, nKeys) <= tol) lastMatch else null
            val ahead =
              if (headRow != null && ordKeys.compare(headKt, kt) == 0 &&
                getTime(headKt, nKeys) - tL <= tol) headRow else null
            val rMatch = dir match {
              case AsOfDirection.Backward => if (back != null) back else nullRight
              case AsOfDirection.Forward => if (ahead != null) ahead else nullRight
              case AsOfDirection.Nearest =>
                if (back == null && ahead == null) nullRight
                else if (ahead == null) back
                else if (back == null) ahead
                else {
                  if (tL - getTime(matchKt, nKeys) <= getTime(headKt, nKeys) - tL)
                    back
                  else ahead
                }
            }
            proj(joined(lRow, rMatch))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing API + registration. */
object AsOfJoin {

  /** Idempotently install the planner strategy on a session (public
    * `experimental.extraStrategies` hook, so it works on any session,
    * not only ones built with `withExtensions`).
    */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    if (!spark.experimental.extraOptimizations.contains(PruneAsOfJoinColumns)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PruneAsOfJoinColumns
    }
    // Pushdown must run BEFORE pruning in the extra-optimization batch
    // so the pruning rule's Project/Filter-chain match still sees the
    // (now smaller) filter chain it expects.
    if (!spark.experimental.extraOptimizations.contains(PushAsOfJoinFilters)) {
      spark.experimental.extraOptimizations =
        PushAsOfJoinFilters +: spark.experimental.extraOptimizations
    }
  }

  /** As-of join `left` to `right` on a single key: for each left row,
    * the latest right row with equal key and right time ≤ left time
    * (left outer) — or, with `forward = true`, the EARLIEST right row
    * with time ≥ left time (the DuckDB `ASOF ... ON l.t <= r.t`
    * direction).
    */
  def join(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      forward: Boolean = false,
      tolerance: Option[Long] = None): DataFrame =
    joinMulti(left, right, Seq(leftKey), leftTime, Seq(rightKey), rightTime,
      if (forward) AsOfDirection.Forward else AsOfDirection.Backward, tolerance)

  /** Nearest-direction as-of on a single key: the right row minimizing
    * |right time − left time|, ties to the earlier match. Time must be
    * a long-backed type (timestamp/date/integer family) — "nearest"
    * needs a numeric distance.
    */
  def joinNearest(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String): DataFrame =
    joinMulti(left, right, Seq(leftKey), leftTime, Seq(rightKey), rightTime,
      AsOfDirection.Nearest)

  /** General form: composite keys + any direction. Key types must
    * match pairwise across sides and be orderable; same for time
    * types. A single long-backed key/time (long/int/short/byte/date/
    * timestamp/timestamp_ntz) runs the primitive merge path; composite
    * or other orderable types use interpreted orderings. Null
    * keys/times never match.
    */
  def joinMulti(
      left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], leftTime: String,
      rightKeys: Seq[String], rightTime: String,
      direction: AsOfDirection = AsOfDirection.Backward,
      tolerance: Option[Long] = None): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      s"as-of join needs matching non-empty key lists, got " +
        s"${leftKeys.length} left vs ${rightKeys.length} right")
    val spark = left.sparkSession
    install(spark)
    val lks = leftKeys.map(k => GraftBridge.expression(left(k)))
    val lt = GraftBridge.expression(left(leftTime))
    val rks = rightKeys.map(k => GraftBridge.expression(right(k)))
    val rt = GraftBridge.expression(right(rightTime))
    def check(side: String, l: Expression, r: Expression): Unit = {
      require(DataType.equalsIgnoreNullability(l.dataType, r.dataType),
        s"as-of join $side types must match: left ${l.dataType.sql} vs right ${r.dataType.sql}" +
          " — cast one side first")
      require(RowOrdering.isOrderable(l.dataType),
        s"as-of join $side type ${l.dataType.sql} is not orderable")
    }
    lks.zip(rks).foreach { case (l, r) => check("key", l, r) }
    check("time", lt, rt)
    if (direction == AsOfDirection.Nearest || tolerance.isDefined) {
      val ok = lt.dataType match {
        case LongType | IntegerType | ShortType | ByteType |
             DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }
      require(ok, s"nearest/tolerance as-of needs a long-backed time type " +
        s"for Δt arithmetic, got ${lt.dataType.sql}")
    }
    tolerance.foreach(t => require(t >= 0, s"tolerance must be >= 0, got $t"))
    val plan = AsOfJoinPlan(
      GraftBridge.analyzedPlan(left), GraftBridge.analyzedPlan(right),
      lks, lt, rks, rt, direction, tolerance)
    GraftBridge.ofRows(spark, plan)
  }
}

/** `SparkSessionExtensions` installer for sessions built with
  * `.withExtensions(new GraftExtensions)` — the library-idiomatic
  * registration path (AsOfJoin.install covers pre-built sessions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectOptimizerRule(_ => PruneAsOfJoinColumns)
    graft.functions.GraftFunctions.all.foreach { case (name, usage, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", null, name, usage, ""),
        builder))
    }
  }
}
