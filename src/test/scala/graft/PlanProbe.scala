package graft

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical-plan probes for the index specs: the executed plans of the
  * SQL actions a block runs (eager checkpoints included), every
  * operator of a plan (through adaptive stages, reused exchanges and
  * cached relations), and where a stored relation's scan meets its
  * first join.
  */
object PlanProbe {

  /** The executed plans of the SQL actions `body` runs, in order. */
  def actionPlans(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; ListenerBridge.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.IteratorHasAsScala(plans.iterator())
      .asScala.toSeq
  }

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case _ => p.children
  }

  /** Every operator of `plan`, each shared subtree (a cached relation
    * scanned twice, say) once.
    */
  def operators(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def go(p: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(p)) Nil else p +: children(p).flatMap(go)
    go(plan)
  }

  /** Whether `plans` evaluate the expressions `pf` matches once per
    * source row: as many of them as file scans, and none in a filter
    * condition (a filter pushed below the projection it reads inlines
    * the projected expression and evaluates it a second time).
    */
  def oncePerScan(plans: Seq[SparkPlan])(pf: PartialFunction[Expression, Unit])
      : Boolean = {
    val ops = plans.flatMap(operators)
    def count(es: Seq[Expression]) = es.map(_.collect(pf).size).sum
    val scans = ops.count(_.isInstanceOf[FileSourceScanExec])
    scans > 0 && count(ops.flatMap(_.expressions)) == scans &&
      count(ops.collect { case f: FilterExec => f.condition }) == 0
  }

  /** Ids of the localCheckpoint'd RDDs `df` reads. */
  def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** For each scan of an RDD in `stored` in `plans`: what lies between
    * it and its nearest join, when that is not "no Exchange, then the
    * streamed side of a broadcast hash join". Returns how many stored
    * scans were found and those findings, empty when every stored scan
    * is probed from a broadcast batch side.
    */
  def storedProbes(plans: Seq[SparkPlan], stored: Set[Int])
      : (Int, Seq[String]) = {
    var scans = 0
    def walk(p: SparkPlan, path: List[SparkPlan]): Seq[String] = p match {
      case s: RDDScanExec if stored(s.rdd.id) =>
        scans += 1
        val i = path.indexWhere(_.isInstanceOf[BaseJoinExec])
        val below = if (i < 0) path else path.take(i)
        val exchanges = below.collect { case e: Exchange =>
          s"${e.nodeName} above stored scan ${s.rdd.id}" }
        val join = if (i < 0) Seq(s"stored scan ${s.rdd.id} joins nothing")
          else path(i) match {
            case b: BroadcastHashJoinExec if (b.buildSide match {
                case BuildLeft => b.right
                case BuildRight => b.left
              }) eq (if (i == 0) s else path(i - 1)) => Nil
            case j => Seq(s"stored scan ${s.rdd.id} is not the streamed " +
              s"side of a broadcast join: ${j.nodeName}")
          }
        exchanges ++ join
      case _ => children(p).flatMap(walk(_, p :: path))
    }
    val bad = plans.flatMap(walk(_, Nil))
    (scans, bad)
  }
}
