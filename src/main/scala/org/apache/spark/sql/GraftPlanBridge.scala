package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into the `private[sql]` plan-construction surface of Spark 4's
  * classic API — the whole-operator counterpart of
  * [[GraftExpressionBridge]]: libraries that add custom logical
  * operators need `Dataset.ofRows` to wrap a hand-built [[LogicalPlan]]
  * as a DataFrame, and a place to register the planner strategy that
  * lowers it. Same public extension-library pattern as the expression
  * bridge.
  */
object GraftPlanBridge {

  /** Wrap a logical plan as a DataFrame (runs the normal analyzer /
    * optimizer / planner pipeline over it). */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst predicate → V1 `sources.Filter`, exactly the planner's
    * own translation (`DataSourceStrategy.translateFilter`, which is
    * `protected[sql]`): lets an analysis rule predict whether a
    * predicate will reach `SupportsDelete.canDeleteWhere` translated,
    * so its partition-drop-vs-row-level routing can never disagree
    * with the planner. */
  def translateFilter(predicate: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    execution.datasources.DataSourceStrategy
      .translateFilter(predicate, supportNestedPredicatePushdown = true)

  /** Re-bind `df` to a SCOPED session: its own session's state with
    * `kvs` conf overrides applied — the race-free way to scope a
    * write-time conf change to one job: setting the shared session's
    * conf and restoring it would leak the change to every concurrent
    * job in the window.
    *
    * The scoped session is built once per (session, override set) and
    * reused, because every session has its own executor classloader
    * and generated code is cached per classloader: a new session per
    * write would compile the write's whole-stage code again. It is
    * rebuilt, never mutated (a frame may still be running on it), when
    * the session's SQL conf entries, experimental strategies or
    * optimizations, or current catalog and namespace change. It
    * reports to the session's query-execution listeners. It carries no
    * temp views or functions: `df` is already analyzed, so nothing
    * resolves names again. The memo is keyed weakly by session, and a
    * scoped session never references the session it was built from,
    * so a dropped session is collected with its scoped sessions. */
  def withSessionConf(df: DataFrame, kvs: (String, String)*): DataFrame =
    classic.Dataset.ofRows(
      scopedSession(df.sparkSession.asInstanceOf[classic.SparkSession],
        kvs.toMap),
      df.queryExecution.analyzed)

  /** What a scoped session copies from its session; equal states
    * share one scoped session. */
  private final case class ScopeState(confs: Map[String, String],
      strategies: Seq[SparkStrategy],
      optimizations: Seq[org.apache.spark.sql.catalyst.rules.Rule[
        LogicalPlan]],
      catalog: String, namespace: Seq[String])

  private val scoped = new java.util.WeakHashMap[classic.SparkSession,
    java.util.HashMap[Map[String, String],
      (ScopeState, classic.SparkSession)]]()

  private def scopedSession(parent: classic.SparkSession,
      overrides: Map[String, String]): classic.SparkSession = {
    val cm = parent.sessionState.catalogManager
    val state = ScopeState(parent.sessionState.conf.getAllConfs,
      parent.experimental.extraStrategies,
      parent.experimental.extraOptimizations,
      cm.currentCatalog.name, cm.currentNamespace.toSeq)
    scoped.synchronized {
      val byOverrides = scoped.computeIfAbsent(parent,
        _ => new java.util.HashMap())
      Option(byOverrides.get(overrides)).filter(_._1 == state) match {
        case Some((_, s)) => s
        case None =>
          val s = buildScoped(parent, state, overrides)
          byOverrides.put(overrides, (state, s))
          s
      }
    }
  }

  /** A session that shares `parent`'s context and shared state but
    * none of its session state — `cloneSession` would keep a reference
    * to the parent's, which would pin a dropped parent through the
    * memo. */
  private def buildScoped(parent: classic.SparkSession, state: ScopeState,
      overrides: Map[String, String]): classic.SparkSession = {
    val s = parent.newSession()
    val conf = s.sessionState.conf
    conf.clear()
    state.confs.foreach { case (k, v) => conf.setConfString(k, v) }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    s.experimental.extraStrategies = state.strategies
    s.experimental.extraOptimizations = state.optimizations
    val cm = s.sessionState.catalogManager
    if (cm.currentCatalog.name != state.catalog)
      cm.setCurrentCatalog(state.catalog)
    if (cm.currentNamespace.toSeq != state.namespace)
      cm.setCurrentNamespace(state.namespace.toArray)
    s.listenerManager.clear()
    s.listenerManager.register(
      new ForwardingListener(
        new java.lang.ref.WeakReference(parent.listenerManager)))
    s
  }

  /** Passes a scoped session's query events to the listeners its
    * parent has at that moment, as a clone's copied listeners would. */
  private final class ForwardingListener(
      to: java.lang.ref.WeakReference[util.ExecutionListenerManager])
      extends util.QueryExecutionListener {
    private def targets = Option(to.get).toSeq.flatMap(_.listListeners())
    override def onSuccess(funcName: String,
        qe: execution.QueryExecution, durationNs: Long): Unit =
      targets.foreach(_.onSuccess(funcName, qe, durationNs))
    override def onFailure(funcName: String,
        qe: execution.QueryExecution, exception: Exception): Unit =
      targets.foreach(_.onFailure(funcName, qe, exception))
  }

  /** A session CLONE with `kvs` conf overrides — for running one SQL
    * statement under a scoped conf (e.g. partitionOverwriteMode)
    * without mutating the shared session out from under concurrent
    * jobs. The clone shares the SparkContext, cache, and (by
    * inheritance) catalog/temp-view registrations. */
  def sessionWithConf(spark: SparkSession,
      kvs: (String, String)*): SparkSession = {
    val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
    kvs.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** Idempotently add a planner strategy to the session (the public
    * `experimental.extraStrategies` hook; cluster deployments would use
    * `SparkSessionExtensions.injectPlannerStrategy` instead). */
  def ensureStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(strategy)) {
      cs.experimental.extraStrategies =
        cs.experimental.extraStrategies :+ strategy
    }
  }

  /** Idempotently add an optimizer rule to the session (the public
    * `experimental.extraOptimizations` hook; cluster deployments would
    * use `SparkSessionExtensions.injectOptimizerRule` instead). */
  def ensureOptimizerRule(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(rule)) {
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ rule
    }
  }

  /** Build a DataFrame with `rule` active, then RESTORE the session's
    * previous rule set — for rules that should rewrite one query, not
    * silently alter every later plan in a shared session. Forcing
    * `optimizedPlan` (a cached lazy val) pins the rewrite into the
    * returned frame, so it survives the restore; AQE's runtime
    * re-optimization uses its own rule set and never re-runs session
    * extras, so the rewrite is not lost at execution either. */
  def withScopedOptimizerRule(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])(
      build: => DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val before = cs.experimental.extraOptimizations
    ensureOptimizerRule(spark, rule)
    try { val df = build; df.queryExecution.optimizedPlan; df }
    finally cs.experimental.extraOptimizations = before
  }
}
