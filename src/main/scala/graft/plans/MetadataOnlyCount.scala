package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.ManifestFileIndex
import org.apache.spark.sql.types._

/** `SELECT count(*)` / `min(col)` / `max(col)` over a manifest table
  * answered from manifest metadata — a Catalyst optimizer [[Rule]] (the
  * Delta `OptimizeMetadataOnlyQuery` idea): when an ungrouped, unfiltered
  * aggregate of only those shapes sits on a
  * [[ManifestFileIndex]]-backed relation, and the manifest has the facts
  * (a `#rows` count per file; `#filestat` bounds per file for min/max),
  * the whole subtree collapses to a one-row [[LocalRelation]]. At 100 TB
  * the query costs one small-file read instead of a cluster-wide scan —
  * and it composes with time travel, since the facts come from whichever
  * version the relation was resolved at.
  *
  * Answerable shapes: `count(*)` from `#rows` facts; `count(col)` from
  * `#rows` minus the column's `#nulls` fact; numeric/date `min`/`max`
  * from `#filestat` bounds; string `min`/`max` from EXACT (untruncated)
  * `#filestr` bounds. Strictly conservative: any grouping, any filter,
  * DISTINCT, a file without the needed fact, a bounds encoding the
  * column type can't round-trip exactly (timestamps, longs beyond 2^53,
  * truncated string bounds), or an aggregate argument that isn't
  * literally a relation column leaves the plan untouched.
  *
  * Production registration is [[GraftSparkExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftSparkExtensions`);
  * [[MetadataOnlyCount.install]] adds the same rule to an already-built
  * session via `experimental.extraOptimizations`.
  */
object MetadataOnlyCount extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg @ Aggregate(groupExprs, aggExprs, child, _)
        if aggExprs.nonEmpty &&
          groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
      manifestOf(child) match {
        case Some((idx, relOutput)) =>
          answer(agg, groupExprs.map(_.asInstanceOf[AttributeReference]),
            aggExprs, idx, relOutput).getOrElse(agg)
        case None => agg
      }
  }

  /** The whole aggregate as LocalRelation rows, when the manifest can
    * answer it. Ungrouped → one row over every file. Grouped → the
    * grouping attributes must all be PARTITION columns whose per-file
    * `__p_c=v` segments parse and whose string renderings round-trip the
    * column type exactly; each partition's row is then answered over just
    * that partition's files (the Iceberg partition-stats idea: `GROUP BY
    * lang` over 100 TB costs one manifest read).
    */
  private def answer(agg: Aggregate, groupAttrs: Seq[AttributeReference],
                     aggExprs: Seq[NamedExpression], idx: ManifestFileIndex,
                     relOutput: Seq[AttributeReference]): Option[LogicalPlan] = {
    def relCol(a: AttributeReference): Boolean =
      relOutput.exists(_.exprId == a.exprId)
    if (!groupAttrs.forall(relCol)) return None
    if (groupAttrs.isEmpty) {
      val vals = aggExprs.map(metaValue(_, idx, idx.relFiles, relOutput))
      if (vals.forall(_.isDefined))
        Some(LocalRelation(agg.output, Seq(InternalRow.fromSeq(vals.map(_.get)))))
      else None
    } else idx.filesByPartition(groupAttrs.map(_.name)).flatMap { groups =>
      val rows = groups.toSeq.flatMap { case (key, files) =>
        idx.knownRowCountOf(files) match {
          // an all-empty partition produces NO group row under real
          // execution — emit none; unknown sizes decline the rewrite
          case Some(0L) => Nil
          case None => Seq(None)
          case _ =>
            val keyVals: Map[Long, Option[Any]] = groupAttrs.zip(key).map {
              case (a, s) => a.exprId.id -> partInternalValue(a.dataType, s)
            }.toMap
            def groupVal(a: AttributeReference): Option[Any] =
              keyVals.getOrElse(a.exprId.id, None)
            val vals = aggExprs.map {
              case a: AttributeReference if keyVals.contains(a.exprId.id) =>
                groupVal(a)
              case Alias(a: AttributeReference, _) if keyVals.contains(a.exprId.id) =>
                groupVal(a)
              case e => metaValue(e, idx, files, relOutput)
            }
            Seq(
              if (vals.forall(_.isDefined)) Some(InternalRow.fromSeq(vals.map(_.get)))
              else None)
        }
      }
      if (rows.forall(_.isDefined)) Some(LocalRelation(agg.output, rows.map(_.get)))
      else None
    }
  }

  /** A partition segment's string rendering decoded to the column type's
    * INTERNAL value — only where `cast(x AS STRING)` provably round-trips
    * (the rendering the partitioned writer produced). Floats, timestamps,
    * and decimals render ambiguously and are declined.
    */
  private def partInternalValue(dt: DataType, s: String): Option[Any] = dt match {
    case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    case LongType => s.toLongOption.filter(_.toString == s).map(v => v: java.lang.Long)
    case IntegerType => s.toIntOption.filter(_.toString == s).map(v => v: java.lang.Integer)
    case ShortType => s.toShortOption.filter(_.toString == s).map(v => v: java.lang.Short)
    case ByteType => s.toByteOption.filter(_.toString == s).map(v => v: java.lang.Byte)
    case BooleanType => s.toBooleanOption.filter(_.toString == s).map(v => v: java.lang.Boolean)
    case DateType =>
      scala.util.Try(java.time.LocalDate.parse(s)).toOption
        .filter(_.toString == s)
        .map(d => d.toEpochDay.toInt: java.lang.Integer)
    case _ => None
  }

  /** The internal-row value of one output aggregate, when the manifest can
    * answer it: `count(*)`/`count(1)` from the row facts, `min(col)` /
    * `max(col)` from the recorded per-file bounds (every file must have
    * them, and the column's type must round-trip the double encoding
    * exactly). count(col), DISTINCT, and everything else → None.
    */
  private def metaValue(e: NamedExpression, idx: ManifestFileIndex,
                        files: Seq[String],
                        relOutput: Seq[AttributeReference]): Option[Any] = {
    // a min/max argument must BE a relation column (matched by exprId —
    // a Project alias that merely REUSES a stats column's name must not
    // read that column's bounds)
    def relCol(a: AttributeReference): Boolean =
      relOutput.exists(_.exprId == a.exprId)
    e match {
      case Alias(AggregateExpression(Count(Seq(Literal(_, _))), Complete, false, None, _), _) =>
        idx.knownRowCountOf(files).map(n => n: java.lang.Long)
      // count(col) counts NON-NULL rows: answerable when every file
      // records both its row count and the column's null count
      case Alias(AggregateExpression(Count(Seq(a: AttributeReference)), Complete, false, None, _), _)
          if relCol(a) =>
        idx.knownNonNullCountOf(files, a.name).map(n => n: java.lang.Long)
      case Alias(AggregateExpression(Min(a: AttributeReference), Complete, false, None, _), _)
          if relCol(a) && a.dataType == StringType =>
        idx.knownStrBoundsOf(files, a.name).map { case (lo, _) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(lo) }
      case Alias(AggregateExpression(Max(a: AttributeReference), Complete, false, None, _), _)
          if relCol(a) && a.dataType == StringType =>
        idx.knownStrBoundsOf(files, a.name).map { case (_, hi) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(hi) }
      case Alias(AggregateExpression(Min(a: AttributeReference), Complete, false, None, _), _)
          if relCol(a) =>
        idx.knownBoundsOf(files, a.name).flatMap { case (lo, _) =>
          internalValue(a.dataType, lo) }
      case Alias(AggregateExpression(Max(a: AttributeReference), Complete, false, None, _), _)
          if relCol(a) =>
        idx.knownBoundsOf(files, a.name).flatMap { case (_, hi) =>
          internalValue(a.dataType, hi) }
      case _ => None
    }
  }

  /** Decode a stats bound (double; dates as epoch days — see
    * `Manifest.statEncode`) back to the column type's INTERNAL value —
    * only for types where the round trip is provably exact. Timestamps
    * (fractional-second encoding) and longs beyond 2^53 are declined.
    */
  private def internalValue(dt: DataType, d: Double): Option[Any] = {
    val whole = d == math.rint(d) && !d.isInfinite
    dt match {
      case LongType if whole && math.abs(d) <= (1L << 53).toDouble =>
        Some(d.toLong: java.lang.Long)
      case IntegerType if whole && d >= Int.MinValue && d <= Int.MaxValue =>
        Some(d.toInt: java.lang.Integer)
      case ShortType if whole && d >= Short.MinValue && d <= Short.MaxValue =>
        Some(d.toShort: java.lang.Short)
      case ByteType if whole && d >= Byte.MinValue && d <= Byte.MaxValue =>
        Some(d.toByte: java.lang.Byte)
      case DateType if whole && d >= Int.MinValue && d <= Int.MaxValue =>
        Some(d.toInt: java.lang.Integer) // internal DateType = epoch days
      case FloatType => Some(d.toFloat: java.lang.Float)
      case DoubleType => Some(d: java.lang.Double)
      case _ => None
    }
  }

  /** The manifest index under the aggregate, when the subtree preserves
    * cardinality and columns: a bare manifest relation, possibly under
    * Projects. Anything else — Filter, Join, sample, … — is None.
    */
  private def manifestOf(plan: LogicalPlan)
      : Option[(ManifestFileIndex, Seq[AttributeReference])] = plan match {
    case Project(_, c) => manifestOf(c)
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case m: ManifestFileIndex =>
          Some((m, l.output.collect { case a: AttributeReference => a }))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** Register on an existing session (extensions only apply at builder
    * time; `extraOptimizations` run at the end of the optimizer).
    */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(MetadataOnlyCount))
      exp.extraOptimizations = exp.extraOptimizations :+ MetadataOnlyCount
  }
}

/** graft's one `spark.sql.extensions` entry point: the metadata-only
  * optimizer rule and the `graft_dot` SQL function.
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
  * }}}
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => MetadataOnlyCount)
    ext.injectFunction(graft.functions.GraftFunctions.dotFunction)
  }
}
