package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, EqualTo, Expression, Literal,
  NamedExpression, RLike}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, Metadata, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Murmur2

/** The one genuinely kbrowse-specific Catalyst optimization (SURVEY.md §4):
  * rewrite a literal key predicate into murmur2 partition pruning.
  *
  * The reference's `--default-partition` asks Kafka's DefaultPartitioner
  * where a literal key lives and scans only that partition
  * (`/root/reference/src/kbrowse/kafka.clj:59-70`). `LogQuery` does this
  * explicitly when driven through `QueryOptions`; this RULE generalizes it
  * to ANY DataFrame/SQL query over a record log: a filter `key = 'k'` (or
  * the anchored literal regex `rlike '^(?:k)$'` the full-match contract
  * produces) gains the conjunct `partition = murmur2(k) % n`, which the
  * source can then prune on (Kafka `assign` / parquet row-group skipping).
  *
  * The link between `key` and `partition` is declared by the source:
  * [[graft.log.RecordLog]] stamps the partition attribute with metadata
  * `graft.partitionOf = "key"` + `graft.numPartitions = n`, which is the
  * rule's license to add the (semantics-preserving, by construction
  * redundant) conjunct. Idempotent: skips when the partition attribute is
  * already constrained.
  *
  * Registered through [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) or per-session via
  * `spark.experimental.extraOptimizations`.
  */
object KeyPartitionPruneRule extends Rule[LogicalPlan] {

  val PartitionOfKey = "graft.partitionOf"
  val NumPartitionsKey = "graft.numPartitions"

  /** The literal inside an `anchored` full-match pattern, if the body is
    * metacharacter-free (a pattern that can only match itself). */
  private def anchoredLiteral(pattern: String): Option[String] = {
    val m = "^\\^\\(\\?:(.*)\\)\\$$".r.findFirstMatchIn(pattern)
    m.map(_.group(1)).filter(_.forall(c => c.isLetterOrDigit || c == '_' || c == '-'))
  }

  private def literalKeyOf(cond: Expression, key: Attribute): Option[String] = {
    val conjuncts = splitConjuncts(cond)
    conjuncts.collectFirst {
      case EqualTo(a: Attribute, Literal(s: UTF8String, StringType)) if a.semanticEquals(key) =>
        s.toString
      case EqualTo(Literal(s: UTF8String, StringType), a: Attribute) if a.semanticEquals(key) =>
        s.toString
      case RLike(a: Attribute, Literal(p: UTF8String, StringType))
          if a.semanticEquals(key) && anchoredLiteral(p.toString).isDefined =>
        anchoredLiteral(p.toString).get
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def constrainsPartition(cond: Expression, part: Attribute): Boolean =
    splitConjuncts(cond).exists {
      case EqualTo(a: Attribute, _) => a.semanticEquals(part)
      case EqualTo(_, a: Attribute) => a.semanticEquals(part)
      case _ => false
    }

  /** `cond` over `child` with the partition conjunct added, when `part`
    * (a partition attribute of `child` and the metadata declaring it) is
    * known and not yet constrained, and `cond` pins a literal key. */
  private def pruned(cond: Expression, child: LogicalPlan,
      part: Option[(Attribute, Metadata)]): Option[Expression] = for {
    (attr, meta) <- part
    if !constrainsPartition(cond, attr)
    key <- child.output.find(_.name == meta.getString(PartitionOfKey))
    lit <- literalKeyOf(cond, key)
  } yield And(cond, EqualTo(attr, Literal(
    Murmur2.partition(lit, meta.getLong(NumPartitionsKey).toInt))))

  private def isPartition(a: NamedExpression): Boolean =
    a.dataType == IntegerType && a.metadata.contains(PartitionOfKey)

  /** The declaring metadata sits on the partition attribute itself (a
    * synthesized log) or on the projection that names a scan's partition
    * column (the archive), beneath which the key filter has been pushed. */
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(list, Filter(cond, child)) =>
      val part = list.collectFirst {
        case a @ Alias(src: Attribute, _) if isPartition(a) => src -> a.metadata
      }
      pruned(cond, child, part).map(c => p.copy(child = Filter(c, child))).getOrElse(p)
    case f @ Filter(cond, child) =>
      pruned(cond, child, child.output.find(isPartition).map(a => a -> a.metadata))
        .map(Filter(_, child)).getOrElse(f)
  }
}

/** `SparkSessionExtensions` entry point: injects the pruning rule into the
  * optimizer (`--conf spark.sql.extensions=graft.plans.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => KeyPartitionPruneRule)
}
