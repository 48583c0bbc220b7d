package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ScalaUDF, UnsafeProjection}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Row count plus an order-independent 64-bit content checksum. */
final case class Digest(rows: Long, sum: Long) {
  def hex: String = f"$sum%016x"
}

/** The full-plan sink: every operator of the key's physical plan runs and
  * every output column is produced (no `count()`, so no column pruning and
  * no dropped sorts). Each output row is encoded as an UnsafeRow and
  * hashed; the per-row hashes are summed, so the digest does not depend on
  * partitioning or row order. */
object Sink {
  def classic(df: DataFrame): org.apache.spark.sql.classic.Dataset[Row] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]

  private def rowHash(u: org.apache.spark.sql.catalyst.expressions.UnsafeRow): Long = {
    val a = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
    val b = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x2f1d3c5b)
    var h = (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }

  def run(qe: QueryExecution, name: String): Digest = {
    val types = qe.executedPlan.output.map(_.dataType).toArray
    val parts = SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(types)
        var n = 0L; var h = 0L
        while (it.hasNext) { n += 1; h += rowHash(proj(it.next())) }
        Iterator.single((n, h))
      }.collect()
    }
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Every node of the final physical plan: descends through adaptive
    * wrappers, query stages, reused exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  private def isWrapper(p: SparkPlan): Boolean = p match {
    case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: ReusedExchangeExec |
         _: InputAdapter | _: WholeStageCodegenExec | _: ShuffleExchangeLike |
         _: BroadcastExchangeLike | _: ReusedSubqueryExec | _: SubqueryExec |
         _: SubqueryBroadcastExec => true
    case _ => false
  }

  /** Operators that run outside whole-stage codegen (wrappers, exchanges
    * and stage boundaries excluded). */
  private def nonCodegen(p: SparkPlan, inCodegen: Boolean): Int = {
    val here = if (!inCodegen && !isWrapper(p)) 1 else 0
    val kids: Seq[(SparkPlan, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
      case q: QueryStageExec => Seq(q.plan -> false)
      case _: ReusedExchangeExec => Nil
      case w: WholeStageCodegenExec => Seq(w.child -> true)
      case i: InputAdapter => Seq(i.child -> false)
      case other => other.children.map(_ -> inCodegen) ++ other.subqueries.map(_ -> false)
    }
    here + kids.map { case (c, in) => nonCodegen(c, in) }.sum
  }

  /** Input tables (file names under `dataDir`) the plan scans. */
  def tables(plan: SparkPlan, dataDir: String): Seq[String] =
    nodes(plan).collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString)
        .filter(_.contains(dataDir)).map(_.split('/').last.stripSuffix(".parquet"))
    }.flatten.distinct.sorted

  /** Plan-shape counts and scan time of one executed plan. */
  def shape(plan: SparkPlan): Map[String, Double] = {
    val all = nodes(plan)
    def cnt(f: PartialFunction[SparkPlan, Boolean]): Double =
      all.count(p => f.applyOrElse(p, (_: SparkPlan) => false)).toDouble
    val scanMs = all.collect {
      case s: FileSourceScanExec => s.metrics.get("scanTime").map(_.value).getOrElse(0L)
      case s: BatchScanExec => s.metrics.get("scanTime").map(_.value).getOrElse(0L)
    }.sum
    Map(
      "exchanges" -> cnt { case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true },
      "sort_merge_joins" -> cnt { case _: SortMergeJoinExec => true },
      "broadcast_joins" -> cnt {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true },
      "non_codegen_nodes" -> nonCodegen(plan, inCodegen = false).toDouble,
      "scala_udfs" -> all.map(_.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum)
        .sum.toDouble,
      "scan_time_s" -> scanMs / 1e3)
  }
}
