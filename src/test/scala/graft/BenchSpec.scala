package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Bench measurement-protocol invariants: the rep rule, the reported
  * median, the stdout encoding, and that a timed rep computes the query
  * Verify checks.
  */
class BenchSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private def ok(ts: Double*): Seq[(Double, Option[String])] =
    ts.map(t => (t, None: Option[String]))

  test("reportedMedian: steady-state window for deep-extended rows only") {
    // no row is deep-extended any more, so no row reports a steady-state
    // window: every row reports the upper middle of its successful reps
    assert(Bench.reportedMedian(ok(1.0, 3.0, 2.0)) == 2.0)
    assert(Bench.reportedMedian(ok(1.80, 1.21, 1.24, 1.19, 1.22)) == 1.22)
  }

  test("requested 8-rep run WITHOUT deep extension keeps its all-reps median") {
    // SPARK_GRAFT_BENCH_REPS=8 reports the median of all 8 reps, the
    // JIT-descent reps included
    val eight = ok(0.78, 0.62, 0.55, 0.50, 0.46, 0.44, 0.43, 0.43)
    assert(Bench.reportedMedian(eight) == 0.50)
  }

  test("errored reps are ignored; chronology is over successes only") {
    // an errored rep is not a time: the median is over the successes only
    val runs = (0.1, Some("boom"): Option[String]) +: ok(1.80, 1.20, 1.21, 1.19)
    assert(Bench.reportedMedian(runs) == 1.21)
  }

  test("every query runs the requested reps; streaming queries at least 5") {
    assert(Bench.repsFor("q_cdc_capture", 3) == 3)
    assert(Bench.repsFor("q_text_langid", 8) == 8)
    assert(Bench.repsFor("q_stream_asof", 3) == 5)
    assert(Bench.repsFor("q_pipeline_streaming", 7) == 7)
  }

  test("per-query JSON maps keep full SparkEntry query names") {
    // consumers join these keys to the sorted SparkEntry names; a
    // stripped "q_" prefix matched zero rows (n_common=0)
    assert(Bench.namedSeconds(Seq("q_sql_join" -> 0.404, "q1_agg" -> 1.236)) ==
      """{"q_sql_join":0.40,"q1_agg":1.24}""")
  }

  /** Executed plans of every query execution `run` finishes. */
  private def executedPlans(run: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      // listeners hear of an execution asynchronously, after it returns
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  // expression ids differ between two optimizations of one analyzed plan
  private def key(e: Expression): String = e.toString.replaceAll("#\\d+", "")

  /** Project, Filter and Sort expressions of `plan` that no node of the
    * executed plans computes.
    */
  private def dropped(plan: LogicalPlan, executed: Seq[SparkPlan]): Seq[String] = {
    val wanted = plan.collect {
      case p: Project => p.projectList
      case f: Filter => Seq(f.condition)
      case s: Sort => s.order
    }.flatten.map(key).distinct
    val computed = executed.flatMap(p => flatMap(p)(_.expressions))
      .flatMap(_.collect { case e => key(e) }).toSet
    wanted.filterNot(computed)
  }

  test("a timed rep computes every Project, Filter and Sort of the query's optimized plan") {
    val sfDir = "/root/testdata/sf0.001"
    for (name <- Seq("q_text_langid", "q_gopher_repetition")) {
      val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
      val optimized = df.queryExecution.optimizedPlan
      val missing = dropped(optimized, executedPlans(Bench.action(df)))
      assert(missing.isEmpty, s"$name: the timed plan drops ${missing.size} expressions, " +
        missing.take(5).mkString("; "))
      // the check has teeth: a count() prunes what the count does not need
      assert(dropped(optimized, executedPlans(df.count())).nonEmpty, name)
    }
    GraftCaches.releaseAll(spark)
  }
}
