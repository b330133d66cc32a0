package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.{Dashboard, FlightPipeline}

/** The reference's single Streamlit session as a closed loop with one
  * client and no think time: each timed operation is one interaction, a
  * master filter with random month/airline IN-lists applied to both
  * in-memory caches and the five charts collected. */
object DashboardReplay extends Workload {

  /** The dashboard adapter. `Dashboard`'s charts read the rollup names of
    * `Aggregates` (`delay_minutes_mean`, `carrier_delay_sum`, …), while the
    * `FlightPipeline` caches keep the reference's CSV names
    * (`DepDelayMinutes_mean`, `CarrierDelay_sum`, …); and `geoMap` joins in
    * coordinates that `airport_performance` already carries, which would
    * make lat/lon ambiguous. One explicit rename-and-drop projection per
    * cache, applied once when the caches are loaded. */
  def adaptAirlineMonthly(am: DataFrame): DataFrame = am.select(
    col("airline_name"), col("month"),
    col("DepDel15_count").as("depdel15_count"),
    col("DepDel15_sum").as("depdel15_sum"),
    col("DepDelayMinutes_mean").as("delay_minutes_mean"),
    col("Is_Cancelled_sum").as("is_cancelled_sum"),
    col("CarrierDelay_sum").as("carrier_delay_sum"),
    col("WeatherDelay_sum").as("weather_delay_sum"),
    col("NASDelay_sum").as("nas_delay_sum"),
    col("LateAircraftDelay_sum").as("late_aircraft_delay_sum"),
    col("on_time_rate"))

  def adaptAirportPerformance(ap: DataFrame): DataFrame = ap.select(
    "airline_name", "month", "origin_city", "total_flights", "delayed_flights")

  /** Raw rows behind the caches. The caches' shapes (42 and ≤ 504 rows)
    * are the same for any quarter this size or larger. */
  def rows(o: Opts): Long = if (o.smoke) 10000L else 100000L

  val warmInteractions = 20

  final case class Interaction(months: Seq[Int], airlines: Seq[String])

  /** Random IN-lists: each list is empty (select all) one time in four,
    * else a random non-empty subset. */
  def interactions(seed: Long, names: Seq[String]): Iterator[Interaction] = {
    val rnd = new Random(seed)
    def subset[T](xs: Seq[T], max: Int): Seq[T] =
      if (rnd.nextInt(4) == 0) Nil
      else rnd.shuffle(xs).take(1 + rnd.nextInt(max))
    Iterator.continually(Interaction(subset(Seq(1, 2, 3), 3), subset(names, 5)))
  }

  final case class Charts(kpi: Array[Row], ranking: Array[Row], trend: Array[Row],
      pie: Array[Row], geo: Array[Row])

  def interact(t: Trace, am: DataFrame, ap: DataFrame, coords: DataFrame,
      i: Interaction, planMs: mutable.Buffer[Double]): Charts = {
    val fam = Dashboard.masterFilter(i.months, i.airlines)(am)
    val fap = Dashboard.masterFilter(i.months, i.airlines)(ap)
    def chart(name: String)(df: DataFrame): Array[Row] = {
      val rows = t.span(name)(df.collect())
      if (t.traced) planMs += df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
      rows
    }
    Charts(
      chart("Dashboard.kpiCards")(Dashboard.kpiCards(fam)),
      chart("Dashboard.rankingChart")(Dashboard.rankingChart(fam)),
      chart("Dashboard.trendChart")(Dashboard.trendChart(fam)),
      chart("Dashboard.delayPie")(Dashboard.delayPie(fam)),
      chart("Dashboard.geoMap")(Dashboard.geoMap(fap, coords)))
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Recomputes the charts' totals on the driver from the collected cache
    * rows and compares. */
  def verify(c: Charts, i: Interaction, amRows: Seq[Row], apRows: Seq[Row]): Boolean = {
    def keep(r: Row) =
      (i.months.isEmpty || i.months.contains(r.getAs[Int]("month"))) &&
        (i.airlines.isEmpty || i.airlines.contains(r.getAs[String]("airline_name")))
    val am = amRows.filter(keep)
    val ap = apRows.filter(keep)
    val n = am.map(_.getAs[Long]("depdel15_count")).sum
    val otp = am.map(r => r.getAs[Double]("on_time_rate") * r.getAs[Long]("depdel15_count")).sum /
      n * 100
    val kpi = c.kpi.head
    val causes = Seq("carrier", "weather", "nas", "late_aircraft")
    val pie = c.pie.map(r => r.getString(0) -> r.getDouble(1)).toMap
    Seq(
      kpi.getAs[Long]("total_flights") == n,
      close(kpi.getAs[Double]("delayed_flights"), am.map(_.getAs[Double]("depdel15_sum")).sum),
      kpi.getAs[Long]("cancelled_flights") == am.map(_.getAs[Long]("is_cancelled_sum")).sum,
      close(kpi.getAs[Double]("avg_otp_pct"), otp),
      c.ranking.length == am.map(_.getAs[String]("airline_name")).distinct.size,
      c.trend.length == am.map(_.getAs[Int]("month")).distinct.size,
      pie.keySet == causes.toSet,
      causes.forall(k => close(pie(k), am.map(_.getAs[Double](s"${k}_delay_sum")).sum)),
      c.geo.length == ap.map(_.getAs[String]("origin_city")).distinct.size,
      c.geo.map(_.getAs[Long]("total_flights")).sum == ap.map(_.getAs[Long]("total_flights")).sum
    ).forall(identity)
  }

  def run(spark: SparkSession, t: Trace, o: Opts): Outcome = {
    val checks = new Checks
    val reps = if (o.smoke) 1 else 3
    // Set-up: generate a quarter (three times, for a steady median), run the
    // pipeline to its two cache files, load both into memory (the
    // reference's st.cache_data) and collect them for the driver-side checks.
    val prepared = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val gen = FlightData.write(Files.fresh(s"${o.work}/raw"), o.seed, rows(o))
      (gen, System.nanoTime() - t0)
    }
    val gen = prepared.last._1
    val p = FlightEtl.Paths(gen.paths, s"${o.work}/fact", s"${o.work}/airline_monthly_performance",
      s"${o.work}/airport_performance")
    val load0 = System.nanoTime()
    FlightEtl.pass(spark, t, p)
    checks("cache build")(FlightEtl.verify(spark, p, gen))
    val am = adaptAirlineMonthly(FlightEtl.readCache(spark, p.airlineMonthly,
      FlightEtl.airlineMonthlySchema)).cache()
    val ap = adaptAirportPerformance(FlightEtl.readCache(spark, p.airportPerformance,
      FlightEtl.airportPerformanceSchema)).cache()
    val amRows = am.collect().toSeq
    val apRows = ap.collect().toSeq
    val loadNs = System.nanoTime() - load0
    val coords = FlightPipeline.coordsDf(spark)
    val names = FlightData.carriers.map(_._2)
    val planMs = mutable.ArrayBuffer[Double]()
    // Warm-up: a fixed number of interactions from a second seeded stream.
    val warm0 = System.nanoTime()
    interactions(~o.seed, names).take(warmInteractions).zipWithIndex.foreach { case (i, k) =>
      checks(s"warm-up interaction $k")(verify(interact(t, am, ap, coords, i, planMs), i,
        amRows, apRows))
    }
    val warmNs = loadNs + System.nanoTime() - warm0
    t.spans.clear()
    planMs.clear()

    val opsMs = mutable.ArrayBuffer[Double]()
    val stream = interactions(o.seed, names)
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var n = 0
    while (n < 20 || System.nanoTime() < deadline) {
      val i = stream.next()
      n += 1
      checks(s"interaction $n") {
        val (charts, ns) = t.op(interact(t, am, ap, coords, i, planMs))
        opsMs += ns / 1e6
        verify(charts, i, amRows, apRows)
      }
    }
    am.unpersist(); ap.unpersist()
    val layers = if (!t.traced) Map.empty[String, Double] else {
      val ms = (n: String) => Stats.median(t.instances(n).map(_.wallNs / 1e6))
      val perOp = planMs.grouped(5).map(_.sum).toSeq
      Map(
        "dashboard.kpi_ms" -> ms("Dashboard.kpiCards"),
        "dashboard.ranking_ms" -> ms("Dashboard.rankingChart"),
        "dashboard.trend_ms" -> ms("Dashboard.trendChart"),
        "dashboard.pie_ms" -> ms("Dashboard.delayPie"),
        "dashboard.geo_ms" -> ms("Dashboard.geoMap"),
        "dashboard.plan_ms_per_interaction" -> Stats.median(perOp),
        "dashboard.p95_ms" -> Stats.quantile(opsMs.toSeq, 0.95))
    }
    Outcome(prepared.map(_._2), warmNs, opsMs.toSeq, checks.attempted, checks.failed, layers)
  }
}
