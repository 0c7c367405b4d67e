package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.{MobCall, MobCodec, MobSchemas, VSpan, VSpanF, VSTBox, VTBox}

/** The Spark-native analogue of the reference's R-tree scan rewrite
  * (ref src/index/rtree_optimize_scan.cpp:20-147): where the reference's
  * optimizer extension swaps a sequential scan whose pushed filter is
  * `&&(STBOX, constant)` for an R-tree index scan, this rule AUGMENTS a
  * Filter containing `op_overlaps(box_column, foldable_box)` with the
  * equivalent min/max range conjuncts on the box's STRUCT FIELDS:
  *
  *   op_overlaps(b, STBOX(...))  ==>  ... AND b.xmin <= cXmax AND
  *     b.xmax >= cXmin AND b.ymin <= cYmax AND ... (time likewise)
  *
  * The original predicate is kept (exact bound-inclusivity semantics);
  * the derived conjuncts are a superset filter that PushDownPredicates
  * pushes into the parquet scan, where nested-column min/max statistics
  * prune row groups — a user writing the natural box predicate gets
  * pruning without hand-flattened columns. Spans (tstzspan etc.) get the
  * same treatment on lower/upper.
  *
  * Idempotence contract: each `op_overlaps` conjunct is expanded exactly
  * once, and a Filter whose box conjuncts are all expanded is returned
  * unchanged, so the operator-optimization batches reach their fixed
  * point instead of running to `spark.sql.optimizer.maxIterations`. The
  * rule cannot recognise its own output by shape: BooleanSimplification
  * and SimplifyBinaryComparison rewrite the `hasX = false OR cmp` guards
  * (to `NOT hasX OR cmp`, then factor them together) in the same batch.
  * Instead the expanded conjunct is replaced by a COPY carrying the
  * `Expanded` tag, which Catalyst's transforms carry along when they
  * rebuild the node (filter pushdown through a view's Project, constant
  * folding of the literal box). The tag goes on a copy, never on the
  * analyzed plan's instance, because the layout writer re-optimizes the
  * same analyzed plan under another session and must derive again.
  */
object BoxPredicateRule extends Rule[LogicalPlan] {

  /** Marks an `op_overlaps` conjunct whose ranges are already in its Filter. */
  private val Expanded = TreeNodeTag[Unit]("graft.boxPredicateExpanded")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = split(cond)
      val expanded = conjuncts.map { c =>
        c -> (if (c.getTagValue(Expanded).isDefined) Nil else ranges(c))
      }
      if (expanded.forall(_._2.isEmpty)) f
      else {
        val derived = expanded.flatMap(_._2).distinct
          .filterNot(d => conjuncts.exists(_.semanticEquals(d)))
        val kept = expanded.map {
          case (c, Nil) => c
          case (c, _) =>
            val marked = c.clone()
            marked.setTagValue(Expanded, ())
            marked
        }
        Filter((kept ++ derived).reduceLeft(And), child)
      }
  }

  private def split(e: Expression): Seq[Expression] = e match {
    case And(l, r) => split(l) ++ split(r)
    case other => Seq(other)
  }

  /** Derived sargable ranges for one conjunct, empty if not applicable. */
  private def ranges(e: Expression): Seq[Expression] = e match {
    case MobCall("op_overlaps", Seq(a, b))
        if !a.foldable && b.foldable && boxKind(a).isDefined &&
          boxKind(a) == boxKind(b) =>
      derive(a, b)
    case MobCall("op_overlaps", Seq(b, a))
        if !a.foldable && b.foldable && boxKind(a).isDefined &&
          boxKind(a) == boxKind(b) =>
      derive(a, b)
    case _ => Nil
  }

  private def boxKind(e: Expression): Option[String] =
    MobSchemas.kindOf(e.dataType).filter(Set("stbox", "tbox", "span", "spanF"))

  /** col's struct field by name (schema is one of ours, so it resolves). */
  private def field(col: Expression, name: String): Expression = {
    val st = col.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    GetStructField(col, st.fieldIndex(name), Some(name))
  }

  /** Box dimensions are optional PER ROW (hasX/hasT): overlapsST/overlapsT
    * skip a dimension absent on either side, so a T-only row can overlap an
    * XT literal via time alone. Each derived comparison is therefore guarded
    * by the row's own flag — `hasX = false OR cmp` — which stays a superset
    * filter for every row. The guard is an Or of two simple comparisons, so
    * DataSourceStrategy still translates it into a pushable parquet filter;
    * on the common all-flags-true data, row-group stats collapse the guard
    * branch to false and the range side alone prunes. */
  private def guarded(col: Expression, flag: String,
                      cs: Seq[Expression]): Seq[Expression] =
    cs.map(c => Or(EqualTo(field(col, flag), Literal(false)), c))

  private def derive(col: Expression, litE: Expression): Seq[Expression] = {
    val v = litE.eval(null)
    if (v == null) return Nil
    MobCodec.decode(litE.dataType, v) match {
      case VSTBox(b) =>
        val x = if (!b.hasX) Nil else guarded(col, "hasX", Seq(
          LessThanOrEqual(field(col, "xmin"), Literal(b.xmax, DoubleType)),
          GreaterThanOrEqual(field(col, "xmax"), Literal(b.xmin, DoubleType)),
          LessThanOrEqual(field(col, "ymin"), Literal(b.ymax, DoubleType)),
          GreaterThanOrEqual(field(col, "ymax"), Literal(b.ymin, DoubleType))))
        val t = if (!b.hasT) Nil else guarded(col, "hasT", Seq(
          LessThanOrEqual(field(col, "tmin"), Literal(b.tmax, LongType)),
          GreaterThanOrEqual(field(col, "tmax"), Literal(b.tmin, LongType))))
        x ++ t
      case VTBox(b) =>
        val x = if (!b.hasX) Nil else guarded(col, "hasX", Seq(
          LessThanOrEqual(field(col, "xmin"), Literal(b.xmax, DoubleType)),
          GreaterThanOrEqual(field(col, "xmax"), Literal(b.xmin, DoubleType))))
        val t = if (!b.hasT) Nil else guarded(col, "hasT", Seq(
          LessThanOrEqual(field(col, "tmin"), Literal(b.tmax, LongType)),
          GreaterThanOrEqual(field(col, "tmax"), Literal(b.tmin, LongType))))
        x ++ t
      case VSpan(s, _) => Seq(
        LessThanOrEqual(field(col, "lower"), Literal(s.upper, LongType)),
        GreaterThanOrEqual(field(col, "upper"), Literal(s.lower, LongType)))
      case VSpanF(s) => Seq(
        LessThanOrEqual(field(col, "lower"), Literal(s.upper, DoubleType)),
        GreaterThanOrEqual(field(col, "upper"), Literal(s.lower, DoubleType)))
      case _ => Nil
    }
  }
}

/** Swap Catalyst's `Round` on DOUBLE input with a literal non-negative
  * scale for [[graft.functions.FastRound]] — bit-identical values (the
  * kernel's equivalence argument: binary fast path outside a
  * conservative half-boundary band, the stock BigDecimal path inside
  * it), without the per-value `Double.toString` the stock
  * implementation pays. A per-scored-pair `round(cos, 6)` is the
  * rank-quantization discipline of the whole ANN/retrieval family, so
  * this rewrite reaches every hot scoring loop with zero operator
  * churn (r14 optimization round; sampled ~30% of the ann_sq8 scoring
  * stage's CPU in BigDecimal/FloatingDecimal frames). */
object FastRoundRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.types.IntegerType
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Round(c, Literal(s: Int, IntegerType), _)
          if c.dataType == DoubleType && s >= 0 && s <= 15 =>
        graft.functions.FastRound(c, s)
    }
}

/** Session extension entry point:
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`, as
  * [[graft.GraftSession]] sets it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.optimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
}

object GraftExtensions {
  /** Every optimizer rule the extension injects. Each one runs inside
    * Catalyst's fixed-point operator-optimization batches, so each must
    * be idempotent: a rule that changes the plan on every iteration runs
    * its batch to `spark.sql.optimizer.maxIterations`. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(BoxPredicateRule, FastRoundRule)
}
