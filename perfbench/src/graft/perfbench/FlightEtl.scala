package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.types._

import graft.engine.{FlightPipeline, Ingest, Sinks}

/** The paper's pipeline, one pass per timed operation: raw monthly CSV →
  * `cleanFlights` → parquet fact → wide view over the stored fact → the
  * two dashboard caches as single-file CSVs. */
object FlightEtl extends Workload {

  val rawSchema: StructType = FlightPipeline.rawSchema(includeCancelled = true)

  /** Column contract of the two cache files `FlightPipeline` writes. */
  val airlineMonthlySchema: StructType = StructType(Seq(
    StructField("airline_name", StringType), StructField("month", IntegerType),
    StructField("DepDel15_count", LongType), StructField("DepDel15_sum", DoubleType),
    StructField("DepDelayMinutes_mean", DoubleType),
    StructField("Is_Cancelled_sum", LongType),
    StructField("CarrierDelay_sum", DoubleType), StructField("WeatherDelay_sum", DoubleType),
    StructField("NASDelay_sum", DoubleType), StructField("LateAircraftDelay_sum", DoubleType),
    StructField("on_time_rate", DoubleType)))
  val airportPerformanceSchema: StructType = StructType(Seq(
    StructField("airline_name", StringType), StructField("month", IntegerType),
    StructField("origin_city", StringType), StructField("total_flights", LongType),
    StructField("delayed_flights", DoubleType), StructField("lat", DoubleType),
    StructField("lon", DoubleType)))

  /** Raw rows per run: the paper's quarter (1.6 M flights), or 10 k in
    * smoke mode. */
  def rows(o: Opts): Long = if (o.smoke) 10000L else 1600000L
  def warmRows(o: Opts): Long = if (o.smoke) 5000L else 200000L
  val warmPasses = 6

  final case class Paths(raw: Seq[String], fact: String, airlineMonthly: String,
      airportPerformance: String)

  /** raw → fact → both caches, with a span around every call into the
    * program. Returns nothing: the outputs are the files under `p`. */
  def pass(spark: SparkSession, t: Trace, p: Paths): Unit = {
    t.span("ingest") {
      val raw = t.span("Ingest.readCsv")(Ingest.readCsv(spark, p.raw, rawSchema))
      val cleaned = t.span("FlightPipeline.cleanFlights")(FlightPipeline.cleanFlights(raw))
      t.span("Sinks.writeParquet")(Sinks.writeParquet(cleaned, p.fact, "overwrite"))
    }
    aggregate(spark, t, p.fact, p.airlineMonthly, p.airportPerformance)
  }

  def aggregate(spark: SparkSession, t: Trace, fact: String, amPath: String,
      apPath: String): Unit = t.span("aggregate") {
    val stored = spark.read.parquet(fact)
    val wide = t.span("FlightPipeline.wideView")(
      FlightPipeline.wideView(stored, FlightData.airlineNames(spark)))
    t.span("airline_monthly")(
      Sinks.writeCsv(FlightPipeline.airlineMonthly(wide), amPath))
    t.span("airport_performance")(Sinks.writeCsv(
      FlightPipeline.airportPerformance(wide, FlightPipeline.coordsDf(spark)), apPath))
  }

  /** Reads a cache back with its declared schema after checking that the
    * file's header names that schema's columns in order. */
  def readCache(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val header = Files.csvHeader(path)
    require(header == schema.fieldNames.toSeq, s"$path header $header")
    Ingest.readCsv(spark, Seq(path), schema)
  }

  /** The checks every pass must pass, against the generator's own counts. */
  def verify(spark: SparkSession, p: Paths, gen: FlightData.Written): Boolean = {
    val factRows = spark.read.parquet(p.fact).count()
    val am = readCache(spark, p.airlineMonthly, airlineMonthlySchema).collect()
    val ap = readCache(spark, p.airportPerformance, airportPerformanceSchema).collect()
    val counts = am.map(_.getAs[Long]("DepDel15_count"))
    val rateOk = am.forall { r =>
      val want = 1.0 - r.getAs[Double]("DepDel15_sum") / r.getAs[Long]("DepDel15_count")
      math.abs(r.getAs[Double]("on_time_rate") - want) <= 1e-12
    }
    val cities = ap.map(_.getAs[String]("origin_city")).toSet
    val checks = Seq(
      "fact rows = raw rows" -> (factRows == gen.rows),
      "airline_monthly has 14 x 3 rows" ->
        (am.length == FlightData.carriers.size * 3),
      "sum(DepDel15_count) = mapped rows" -> (counts.sum == gen.rows),
      "on_time_rate = 1 - sum/count" -> rateOk,
      "airport_performance cities are the coordinate cities" ->
        (cities == FlightData.hubCities),
      "sum(total_flights) = generated hub departures" ->
        (ap.map(_.getAs[Long]("total_flights")).sum == gen.hubOriginRows))
    checks.filterNot(_._2).foreach(c => System.err.println(s"perfbench: ${c._1}: false"))
    checks.forall(_._2)
  }

  def run(spark: SparkSession, t: Trace, o: Opts): Outcome = {
    val checks = new Checks
    val reps = if (o.smoke) 1 else 3
    // Set-up, repeated so its median is steady: generate the quarter.
    val prepared = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val gen = FlightData.write(Files.fresh(s"${o.work}/raw"), o.seed, rows(o))
      (gen, System.nanoTime() - t0)
    }
    val gen = prepared.last._1
    val p = Paths(gen.paths, s"${o.work}/fact_flights_q1_raw",
      s"${o.work}/airline_monthly_performance", s"${o.work}/airport_performance")
    // Warm-up: passes over a small quarter, so the JIT has compiled the
    // pipeline's code before the timed passes over the full one.
    val warm0 = System.nanoTime()
    val small = FlightData.write(Files.fresh(s"${o.work}/warm_raw"), ~o.seed, warmRows(o))
    val pw = Paths(small.paths, s"${o.work}/warm_fact", s"${o.work}/warm_airline_monthly",
      s"${o.work}/warm_airport_performance")
    (1 to warmPasses).foreach { i =>
      checks(s"warm-up pass $i") { pass(spark, t, pw); verify(spark, pw, small) }
    }
    val warmNs = System.nanoTime() - warm0
    t.spans.clear()

    val opsMs = scala.collection.mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var n = 0
    while (n < 3 || System.nanoTime() < deadline) {
      n += 1
      checks(s"pass $n") {
        val (_, ns) = t.op(pass(spark, t, p))
        opsMs += ns / 1e6
        verify(spark, p, gen)
      }
    }
    // The raw scan alone, into Spark's noop sink; run in both modes so the
    // traced and untraced runs run the same jobs.
    val s0 = System.nanoTime()
    Ingest.readCsv(spark, p.raw, rawSchema).write.format("noop").mode("overwrite").save()
    val scanS = (System.nanoTime() - s0) / 1e9
    val layers = if (!t.traced) Map.empty[String, Double] else {
      t.drain()
      val med = (xs: Seq[Double]) => Stats.median(xs)
      val wall = (n: String) => med(t.instances(n).map(_.wallNs / 1e9))
      val self = (n: String) => med(t.instances(n).map(_.selfNs / 1e9))
      val write = t.countersOf("Sinks.writeParquet")
      val caches = t.countersOf("airline_monthly").zip(t.countersOf("airport_performance"))
        .map { case (a, b) => val c = new Counters; c.add(a); c.add(b); c }
      val isFactScan = (n: SparkPlanInfo) => n.nodeName.startsWith("Scan parquet") &&
        n.metadata.get("Location").exists(_.contains(p.fact))
      Map(
        "ingest.scan_s" -> scanS,
        "ingest.clean_self_s" -> self("FlightPipeline.cleanFlights"),
        "ingest.write_self_s" -> self("Sinks.writeParquet"),
        "ingest.rows_per_s" -> gen.rows / wall("ingest"),
        "ingest.input_bytes" -> med(write.map(_.inputBytes.toDouble)),
        "ingest.output_bytes" -> med(write.map(_.outputBytes.toDouble)),
        "ingest.fact_bytes_per_raw_byte" -> Files.bytes(p.fact).toDouble / gen.bytes,
        "ingest.tasks" -> med(write.map(_.tasks.toDouble)),
        "ingest.task_skew" -> med(write.map(_.taskSkew)),
        "aggregate.s" -> wall("aggregate"),
        "aggregate.wide_s" -> wall("FlightPipeline.wideView"),
        "aggregate.airline_monthly_s" -> wall("airline_monthly"),
        "aggregate.airport_performance_s" -> wall("airport_performance"),
        "aggregate.jobs" -> med(caches.map(_.jobs.toDouble)),
        "aggregate.fact_scans" -> med(caches.map(_.planNodes(isFactScan).size.toDouble)),
        "aggregate.broadcasts" ->
          med(caches.map(_.planNodes(_.nodeName == "BroadcastExchange").size.toDouble)),
        "aggregate.shuffle_bytes" -> med(caches.map(_.shuffleBytes.toDouble)),
        "aggregate.spill_bytes" -> med(caches.map(_.spillBytes.toDouble)))
    }
    Outcome(prepared.map(_._2), warmNs, opsMs.toSeq, checks.attempted,
      checks.failed, layers)
  }
}
