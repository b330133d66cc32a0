package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.engine.{Aggregates, Dashboard, StarSchema}

/** Plan contract of the dashboard tier over cached rollups: each chart is
  * one job of one task with no exchange, interactions that differ only in
  * their IN-list values reuse compiled code, and the array-literal filter
  * selects the same rows as `isin`. */
class DashboardSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val wide = StarSchema.wideView(spark, sf)
  // Three cached partitions, so the single task is the filter's doing.
  private lazy val am = cached(Aggregates.airlineMonthlyPerformance(wide))
  private lazy val ap = cached(Aggregates.airportPerformance(wide))
  private lazy val months = am.select("month").distinct().orderBy("month")
    .collect().map(_.getInt(0)).toSeq
  private lazy val airlines = am.select("airline_name").distinct()
    .orderBy("airline_name").collect().map(_.getString(0)).toSeq
  // Empty lists, a month-only list, an airline-only list, and both.
  private lazy val selections: Seq[(Seq[Int], Seq[String])] = Seq((Nil, Nil),
    (months.take(2), Nil), (Nil, airlines.take(3)), (months.take(1), airlines.take(2)))

  private def cached(df: DataFrame): DataFrame = {
    val c = df.repartition(3).cache()
    c.count()
    c
  }

  private def charts(ms: Seq[Int], as: Seq[String]): Seq[(String, DataFrame)] = {
    val fam = Dashboard.masterFilter(ms, as)(am)
    val fap = Dashboard.masterFilter(ms, as)(ap)
    Seq("kpiCards" -> Dashboard.kpiCards(fam),
      "rankingChart" -> Dashboard.rankingChart(fam),
      "trendChart" -> Dashboard.trendChart(fam),
      "delayPie" -> Dashboard.delayPie(fam),
      "geoMap" -> Dashboard.geoMap(fap, Aggregates.coordsDf(spark)))
  }

  /** Collects `df` and returns the (jobs, tasks) its action ran, counted
    * by a listener that is removed afterwards. */
  private def jobsAndTasks(df: DataFrame): (Int, Int) = {
    val sc = spark.sparkContext
    val (jobs, tasks) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    SpecListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      df.collect()
      SpecListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    (jobs.get, tasks.get)
  }

  test("each chart over a filtered cached rollup is one job of one task, with no exchange") {
    selections.foreach { case (ms, as) =>
      charts(ms, as).foreach { case (name, df) =>
        assert(jobsAndTasks(df) == ((1, 1)), s"$name for months=$ms airlines=$as")
        val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
          case e: Exchange => e.nodeName
        }
        assert(exchanges.isEmpty, s"$name plans $exchanges:\n${df.queryExecution.executedPlan}")
      }
    }
  }

  test("interactions with same-shaped IN-lists reuse compiled code") {
    assert(months.size >= 4 && airlines.size >= 4, "two disjoint selections need four values each")
    def interact(ms: Seq[Int], as: Seq[String]): Unit =
      charts(ms, as).foreach { case (_, df) => df.collect() }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    interact(months.take(2), airlines.take(2))
    val before = compiles
    interact(months.slice(2, 4), airlines.slice(2, 4))
    assert(compiles == before, "a new selection compiled new code")
  }

  test("array-literal master filter selects the same rows as isin, NULL attribute included") {
    // In the first month, so that every month list below keeps it.
    val nullAirline = am.limit(1).withColumn("airline_name", lit(null).cast("string"))
      .withColumn("month", lit(months.head))
    val withNull = am.unionByName(nullAirline)
    def viaIsin(ms: Seq[Int], as: Seq[String]): DataFrame = {
      val byMonth = if (ms.isEmpty) withNull else withNull.filter(col("month").isin(ms: _*))
      if (as.isEmpty) byMonth else byMonth.filter(col("airline_name").isin(as: _*))
    }
    def rows(df: DataFrame): Seq[Row] =
      df.orderBy("airline_name", "month").collect().toSeq
    selections.foreach { case (ms, as) =>
      val got = rows(Dashboard.masterFilter(ms, as)(withNull))
      assert(got == rows(viaIsin(ms, as)), s"months=$ms airlines=$as")
      assert(got.exists(_.isNullAt(0)) == as.isEmpty)
    }
  }
}
