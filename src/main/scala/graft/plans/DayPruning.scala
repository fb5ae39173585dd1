package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types.{DateType, TimestampType}

/** The engine's logical planning extension (SURVEY.md §4): rewrite
  * event-time range predicates to also constrain the `day` partition column.
  * Its physical counterpart is [[BindTimesRule]].
  *
  * The storage layout partitions by `day = to_date(execute_time)`
  * ([[graft.binlog.Maintenance.writeEvents]], reference `README.md:115`),
  * but the reference's queries filter on `execute_time` alone
  * (`compute_transaction_info.py:62`). Without this rule such a filter scans
  * every partition; with it, `PruneFileSourcePartitions` (which runs later
  * in the optimizer) prunes to the touched days — the difference between
  * reading 30 months and reading one day at 100 TB.
  *
  * Soundness: the added predicate is only implied when the layout invariant
  * `day = to_date(execute_time)` holds, so the rule is deliberately narrow —
  * it fires only on a conjunctive filter that (a) bounds a timestamp column
  * named `execute_time` with literals, (b) sits directly over a file scan
  * whose *partition schema* contains `day: date` (the layout
  * [[graft.binlog.Maintenance.writeEvents]] produces — a coincidentally
  * named data column never triggers it), and (c) does not already constrain
  * `day`. Tables partitioned by a `day` column unrelated to `execute_time`
  * violate the engine's layout contract; disable with
  * `spark.graft.dayPruning.enabled=false` when mixing in foreign layouts.
  */
object DayPruningRule extends Rule[LogicalPlan] {

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** The (day, execute_time) attribute pair of a partitioned file relation
    * under `plan` whose `day` survives into `plan.output` (projections in
    * between are fine) — not just any date column. Returning both attributes
    * from the *same* `LogicalRelation` is what keeps the rewrite sound: a
    * filter bounding some other relation's `execute_time` (e.g. above a join
    * where pushdown can't move it) must not inject a day bound derived from
    * an unrelated timestamp.
    */
  private def partitionDayAttr(plan: LogicalPlan): Option[(Attribute, Set[ExprId])] = {
    val relationPairs: Seq[(Set[ExprId], Set[ExprId])] = plan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if fs.partitionSchema.exists(f => f.name == "day" && f.dataType == DateType) =>
            Some((
              r.output.filter(a => a.name == "day" && a.dataType == DateType)
                .map(_.exprId).toSet,
              r.output.filter(a => a.name == "execute_time" && a.dataType == TimestampType)
                .map(_.exprId).toSet))
          case _ => None
        }
    }.flatten
    (for {
      (dayIds, etIds) <- relationPairs.iterator
      day <- plan.output.find(a =>
        a.name == "day" && a.dataType == DateType && dayIds.contains(a.exprId))
      if etIds.nonEmpty
    } yield (day, etIds)).nextOption()
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, child)
        if conf.getConfString("spark.graft.dayPruning.enabled", "true") == "true" =>
      val dayAttr = partitionDayAttr(child)
      dayAttr match {
        case Some((day, scanEtIds)) =>
          // only an execute_time attribute emitted by the same relation as
          // `day` may imply a day bound (ADVICE r1: by-name matching would
          // accept an unrelated relation's timestamp above a join)
          def isExecuteTime(e: Expression): Boolean = e match {
            case a: Attribute =>
              a.name == "execute_time" && a.dataType == TimestampType &&
                scanEtIds.contains(a.exprId)
            case _ => false
          }
          val conjuncts = splitConjuncts(cond)
          val touchesDay = conjuncts.exists(_.references.exists(_.name == "day"))
          if (touchesDay) f
          else {
            val lower = conjuncts.collectFirst {
              case GreaterThanOrEqual(t, l: Literal) if isExecuteTime(t) => l
              case GreaterThan(t, l: Literal) if isExecuteTime(t) => l
            }
            val upper = conjuncts.collectFirst {
              case LessThan(t, l: Literal) if isExecuteTime(t) => (l, true)
              case LessThanOrEqual(t, l: Literal) if isExecuteTime(t) => (l, false)
            }
            // timestamp→date casts need an explicit zone or the plan
            // becomes unresolved post-analysis
            val tz = Some(conf.sessionLocalTimeZone)
            val microsPerDay = 86400000000L
            val dayPreds =
              lower.map(l => GreaterThanOrEqual(day, Cast(l, DateType, tz)).asInstanceOf[Expression]).toSeq ++
                upper.map { case (u, strict) =>
                  // `ts < midnight(d)` implies `day < d` (half-open windows
                  // end on midnight — the common F3 shape); otherwise `day <= d`
                  // micros%day==0 means midnight only where the session zone
                  // is UTC (the engine pins UTC; stay safe elsewhere)
                  val atMidnight = conf.sessionLocalTimeZone == "UTC" &&
                    u.value != null &&
                    u.value.asInstanceOf[Long] % microsPerDay == 0
                  val casted = Cast(u, DateType, tz)
                  if (strict && atMidnight) LessThan(day, casted).asInstanceOf[Expression]
                  else LessThanOrEqual(day, casted).asInstanceOf[Expression]
                }.toSeq
            if (dayPreds.isEmpty) f
            else Filter(dayPreds.foldLeft(cond)(And(_, _)), child)
          }
        case None => f
      }
  }
}

/** `SparkSessionExtensions` installer: the day-pruning rewrite (optimizer),
  * the time-bound binding ([[BindTimesRule]], before the columnar
  * transitions and so before whole-stage codegen collapses the plan), and
  * the SQL-callable registration of the engine's custom expressions.
  * Wire with `SparkSession.builder().withExtensions(GraftExtensions(_))`.
  */
object GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DayPruningRule)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = BindTimesRule
    })
    ext.injectFunction(org.apache.spark.sql.graft.DotProduct.registration)
    ext.injectFunction(org.apache.spark.sql.graft.QuantizeCode.registration)
    ext.injectFunction(org.apache.spark.sql.graft.DequantizeDot.registration)
    ext.injectFunction(org.apache.spark.sql.graft.UnitVector.registration)
    ext.injectFunction(org.apache.spark.sql.graft.TokenHash.registration)
    ext.injectFunction(org.apache.spark.sql.graft.DecodeEnvelope.registration)
    ext.injectFunction(org.apache.spark.sql.graft.EncodeEnvelope.registration)
    ext.injectFunction(org.apache.spark.sql.graft.ShingleHash.registration)
    ext.injectFunction(org.apache.spark.sql.graft.PositionalShingleHash.registration)
    ext.injectFunction(org.apache.spark.sql.graft.WinnowHash.registration)
    ext.injectFunction(org.apache.spark.sql.graft.TokenHashArray.registration)
    ext.injectFunction(org.apache.spark.sql.graft.MinHashSigs.registration)
    ext.injectFunction(org.apache.spark.sql.graft.PqEncode.registration)
    ext.injectFunction(org.apache.spark.sql.graft.PqAdcDot.registration)
    ext.injectFunction(org.apache.spark.sql.graft.SimHashBits.registration)
    ext.injectFunction(org.apache.spark.sql.graft.CdcChunkSpans.registration)
    ext.injectFunction(org.apache.spark.sql.graft.CdcChunkSpansText.registration)
    ext.injectFunction(org.apache.spark.sql.graft.BpeApply.registration)
  }
}
