package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.core.{Buckets, Meta}

/** P5 — PK point-query rewrite (SURVEY §2.2): the reference's planner turns
  * a full-PK equality filter into a single-bucket lookup instead of a scan
  * (fluss-flink/.../source/FlinkTableSource.java:570-609,
  * PushdownUtils.java:259). Here the same idea is a Catalyst optimizer
  * rule: when a Filter over a graft log relation pins every bucket key to a
  * literal, derive the key's bucket ([[graft.core.Buckets]]) and add a
  * `__bucket = b` conjunct.
  * `__bucket` is a hive partition column of the log, so FileSourceStrategy
  * turns the conjunct into partition pruning — the scan touches 1/numBuckets
  * of the files, which is exactly the reference's "route to the key's
  * bucket leader" narrowed to Spark's storage model. At 1000 executors this
  * is the difference between a point query costing a full-table scan and
  * costing one file listing.
  */
object BucketPruning {

  /** Bucket layout of one registered log directory. */
  final case class Layout(bucketKeys: Seq[String], numBuckets: Int)

  private val registry = new ConcurrentHashMap[String, Layout]()

  private def normalize(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  /** Called by GraftTable on construction. */
  def register(logDir: String, bucketKeys: Seq[String], numBuckets: Int): Unit =
    if (bucketKeys.nonEmpty)
      registry.put(normalize(logDir), Layout(bucketKeys, numBuckets))

  private[plans] def lookup(rootPaths: Seq[String]): Option[Layout] = {
    // rootPaths may be the log DIRECTORY (directory scan) or individual
    // FILES under it (manifest-gated scans list visible files explicitly),
    // so match each path and its ancestors against the registry
    def ancestors(p: String): Iterator[String] =
      Iterator.iterate(p)(s => s.substring(0, math.max(s.lastIndexOf('/'), 0)))
        .takeWhile(_.nonEmpty)
    rootPaths.iterator.map(normalize)
      .flatMap(p => ancestors(p).flatMap(a =>
        Option(registry.get(a)).map(a -> _)).take(1))
      .nextOption()
      // rebucket read fence: while `<table>/_rebucket.json` exists the
      // registered layout may describe a numbering the log no longer
      // lives in (stale-handle registration, or the swap→meta-flip crash
      // window) — adding a `__bucket = b` conjunct hashed with it would
      // silently prune to the wrong dir. Skipping the rewrite is always
      // correct, just unpruned. One marker stat per candidate rewrite.
      .filterNot { case (logDir, _) =>
        val tableDir = logDir.substring(0, math.max(logDir.lastIndexOf('/'), 0))
        tableDir.nonEmpty &&
          graft.core.WarehouseIO.exists(s"$tableDir/_rebucket.json")
      }
      .map(_._2)
  }

  /** Install into a live session (idempotent). */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(BucketPruneRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BucketPruneRule
    if (!spark.experimental.extraOptimizations.contains(V1StatsRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ V1StatsRule
    if (!spark.experimental.extraOptimizations.contains(PkCollapseRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PkCollapseRule :+
          // a PkCollapseRule substitution lands AFTER the built-in DPP
          // batch; re-running Spark's (idempotent) PartitionPruning right
          // after it lets a selective join still plant its runtime filter
          // over the substituted grouped scan
          org.apache.spark.sql.graftshim.V2Relation.partitionPruningRule
  }
}

object BucketPruneRule extends Rule[LogicalPlan] with PredicateHelper {

  /** Idempotence guard: has the rule already added its `__bucket = b`
    * conjunct? Must look at TOP-LEVEL conjuncts only — the offset-gate
    * filter references `__bucket` inside a CASE expression on every log
    * read, and that must not disable the rewrite.
    */
  private def alreadyPruned(cond: Expression): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a: AttributeReference, _: Literal) => a.name == Meta.Bucket
      case EqualTo(_: Literal, a: AttributeReference) => a.name == Meta.Bucket
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, r: LogicalRelation)
        if r.relation.isInstanceOf[HadoopFsRelation] && !alreadyPruned(cond) =>
      val fs = r.relation.asInstanceOf[HadoopFsRelation]
      val layoutOpt =
        if (!fs.partitionSchema.fieldNames.contains(Meta.Bucket)) None
        else BucketPruning.lookup(fs.location.rootPaths.map(_.toString))
      layoutOpt match {
        case Some(layout) =>
          // literal bindings: attrName -> literal, from top-level conjuncts
          val eq = splitConjunctivePredicates(cond).collect {
            case EqualTo(a: AttributeReference, l: Literal) => a.name -> l
            case EqualTo(l: Literal, a: AttributeReference) => a.name -> l
          }.toMap
          if (layout.bucketKeys.forall(eq.contains)) {
            val b = Buckets.ofValues(layout.bucketKeys.map(eq),
              layout.bucketKeys.map(k => r.output.find(_.name == k).get.dataType),
              layout.numBuckets)
            val bucketAttr = r.output.find(_.name == Meta.Bucket).get
            Filter(And(cond, EqualTo(bucketAttr, Literal(b))), r)
          } else f
        case None => f
      }
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` installs the
  * point-query rewrite rule and the native SQL function library at
  * session build time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => BucketPruneRule)
    e.injectOptimizerRule(_ => V1StatsRule)
    graft.functions.NativeFunctions.registrations.foreach(e.injectFunction)
  }
}
