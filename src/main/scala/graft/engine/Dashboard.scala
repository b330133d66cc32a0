package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dashboard query tier (SURVEY.md §2.B5, §3 entry point 3): the
  * reference re-runs pandas masks + per-chart group-bys on every widget
  * interaction (`/root/reference/src/app.py:83-170`). Here each chart is a
  * parameterized lazy plan over a filtered rollup.
  *
  * Contract: the inputs are the two pre-aggregated rollups, bounded by
  * airlines × months × cities (tens to hundreds of rows), never the fact
  * table. [[masterFilter]] therefore returns its input coalesced to one
  * partition, which adds no shuffle: every chart's group-by, global
  * aggregate, sort and the geo join is satisfied by that single partition,
  * so a chart runs as one job of one task with no exchange. A rollup that
  * is built lazily keeps its own aggregation shuffle (its scan stays
  * parallel); only the final stage becomes one task.
  *
  * The IN-lists are passed as one array literal, not as `isin` values:
  * `isin` inlines each value into the generated code, so every new
  * selection would compile new whole-stage code, while an array literal
  * becomes a reference object and the generated code depends only on which
  * of the two filters is present. Interactions then reuse compiled code.
  */
object Dashboard {

  /** B5 — the master conjunctive IN-list filter
    * (`/root/reference/src/app.py:83-87`). Empty selection = no filter on
    * that attribute, matching the dashboard's select-all default. A NULL
    * attribute fails a non-empty list, as under `IN`. */
  def masterFilter(months: Seq[Int], airlines: Seq[String])(df: DataFrame): DataFrame = {
    val byMonth =
      if (months.isEmpty) df else df.filter(array_contains(typedLit(months), col("month")))
    val byAirline =
      if (airlines.isEmpty) byMonth
      else byMonth.filter(array_contains(typedLit(airlines), col("airline_name")))
    byAirline.coalesce(1)
  }

  /** The five chart plans over the filtered rollups, exactly the per-chart
    * pandas group-bys at `/root/reference/src/app.py:94-168`. */
  def kpiCards(filteredAirlineMonthly: DataFrame): DataFrame =
    Aggregates.kpis(filteredAirlineMonthly)

  def rankingChart(filteredAirlineMonthly: DataFrame): DataFrame =
    Aggregates.ranking(filteredAirlineMonthly)

  def trendChart(filteredAirlineMonthly: DataFrame): DataFrame =
    Aggregates.trend(filteredAirlineMonthly)

  def delayPie(filteredAirlineMonthly: DataFrame): DataFrame =
    Aggregates.delayAttribution(filteredAirlineMonthly)

  /** The coordinates join as a shuffle-hash join of two single-partition
    * sides: a broadcast would cost one extra job per interaction. */
  def geoMap(filteredAirportPerf: DataFrame, coords: DataFrame): DataFrame =
    Aggregates.geoAggregate(filteredAirportPerf.join(
      coords.coalesce(1).hint("shuffle_hash"), Seq("origin_city"), "inner"))
}
