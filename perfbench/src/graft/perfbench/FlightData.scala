package graft.perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.FlightPipeline

/** Deterministic generator of the reference's raw monthly extract: the
  * 30 columns of `FlightPipeline.rawSchema(includeCancelled = true)`, in
  * that order, for 2025 Q1, one headed CSV file per month
  * (`2025_01.csv` … `2025_03.csv`). Every value is a pure function of
  * (seed, row id). Distribution (see NOTES.md):
  *
  *  - 14 carriers with skewed market shares, all named in [[airlineNames]];
  *  - 350 airports; the 12 `FlightPipeline.cityCoords` cities are the hubs
  *    and carry 60 % of departures (and arrivals);
  *  - dates uniform over each month; CRS departures 05:00–23:59;
  *  - DepTime = CRS + delay on the 24-hour clock, midnight written `2400`;
  *  - 2 % cancelled: NULL DepTime, delays, DepDel15, elapsed and air time;
  *  - cause columns set only when DepDel15 = 1, summing to the delay.
  *
  * `Month` stays a data column: the CSV schema is positional, so a
  * `partitionBy("Month")` layout would shift every later column. */
object FlightData {

  val carriers: Seq[(String, String, Int)] = Seq(
    ("WN", "Southwest Airlines Co.", 17), ("DL", "Delta Air Lines Inc.", 15),
    ("AA", "American Airlines Inc.", 15), ("UA", "United Air Lines Inc.", 12),
    ("OO", "SkyWest Airlines Inc.", 10), ("YX", "Republic Airline", 5),
    ("MQ", "Envoy Air", 4), ("B6", "JetBlue Airways", 4),
    ("AS", "Alaska Airlines Inc.", 4), ("NK", "Spirit Air Lines", 4),
    ("OH", "PSA Airlines Inc.", 3), ("F9", "Frontier Airlines Inc.", 3),
    ("G4", "Allegiant Air", 2), ("HA", "Hawaiian Airlines Inc.", 2))

  def airlineNames(spark: SparkSession): DataFrame = {
    import spark.implicits._
    carriers.map { case (c, n, _) => (c, n) }.toDF("airline_code", "airline_name")
  }

  private val hubCodes = Seq("ATL", "ORD", "DFW", "DEN", "SFO", "JFK", "LAX",
    "SEA", "IAH", "PHX", "LAS", "CLT")

  /** (code, "City, ST", state) for the 12 hubs, then 338 synthetic airports
    * whose city names never collide with a coordinate city. */
  val airports: IndexedSeq[(String, String, String)] = {
    val hubs = FlightPipeline.cityCoords.map(_._1).zip(hubCodes).map {
      case (city, code) => (code, city, city.takeRight(2)) }
    val states = Seq("AL", "AR", "CA", "CO", "FL", "GA", "ID", "IL", "IN", "KS",
      "KY", "LA", "MA", "MI", "MN", "MO", "MT", "NC", "ND", "NE", "NM", "NY",
      "OH", "OK", "OR", "PA", "SC", "TN", "TX", "UT", "VA", "WA", "WI", "WY")
    val letters = ('A' to 'Z').map(_.toString)
    val codes = (for (a <- letters; b <- letters; c <- letters) yield a + b + c)
      .filterNot(hubCodes.contains).take(338)
    (hubs ++ codes.zipWithIndex.map { case (code, i) =>
      val st = states(i % states.size)
      (code, s"Town$i, $st", st)
    }).toIndexedSeq
  }

  /** Coordinate cities, i.e. the hubs' city names. */
  val hubCities: Set[String] = FlightPipeline.cityCoords.map(_._1).toSet

  /** 1000 weighted slots → airport index: 50 per hub, the rest spread
    * evenly over the other airports. */
  private val airportSlots: Array[Int] = {
    val hubSlots = hubCodes.indices.flatMap(i => Seq.fill(50)(i))
    val rest = 1000 - hubSlots.size
    (hubSlots ++ (0 until rest).map(i => hubCodes.size + i % (airports.size - hubCodes.size)))
      .toArray
  }
  private val isHub: Array[Boolean] = airports.map(a => hubCities(a._2)).toArray

  private val carrierSlots: Array[Int] =
    carriers.zipWithIndex.flatMap { case ((_, _, w), i) => Seq.fill(w)(i) }.toArray
  private val blocks: Array[String] =
    (0 until 24).map(h => if (h < 6) "0001-0559" else f"$h%02d00-$h%02d59").toArray

  /** What the generator itself counted while writing. */
  final case class Written(paths: Seq[String], rows: Long, hubOriginRows: Long,
      bytes: Long)

  /** Column names of the written files, in file order. */
  val header: Seq[String] = FlightPipeline.rawSchema(includeCancelled = true).fieldNames.toSeq

  /** Writes the quarter under `dir`, one file per month, the months in
    * parallel, and returns the paths with the generator's own counts. */
  def write(dir: String, seed: Long, rows: Long): Written = {
    val days = (1 to 3).map(m => LocalDate.of(2025, m, 1).lengthOfMonth())
    val perMonth = days.map(d => rows * d / days.sum)
    val jobs = (1 to 3).map { m =>
      val path = f"$dir/2025_$m%02d.csv"
      val base = perMonth.take(m - 1).sum
      Future(path -> month(path, seed, m, base, perMonth(m - 1)))(ExecutionContext.global)
    }
    val done = jobs.map(Await.result(_, Duration.Inf))
    Written(done.map(_._1), perMonth.sum, done.map(_._2).sum, done.map(d => Files.bytes(d._1)).sum)
  }

  /** splitmix64 finalizer: a well-mixed 64-bit hash. */
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Writes one month; returns its number of departures from a hub. */
  private def month(path: String, seed: Long, m: Int, base: Long, n: Long): Long = {
    val first = LocalDate.of(2025, m, 1)
    val dates = (0 until first.lengthOfMonth()).map(first.plusDays(_))
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path),
      StandardCharsets.US_ASCII), 1 << 20)
    val b = new java.lang.StringBuilder(256)
    def cell(x: Any): Unit = b.append(x).append(',')
    def measure(x: Long): Unit = b.append(x).append(".00,")
    def blank(): Unit = b.append(',')
    def hhmm(minute: Int): Int = minute / 60 * 100 + minute % 60
    var hub = 0L
    try {
      out.write(header.mkString(",")); out.write('\n')
      var id = base
      while (id < base + n) {
        val h0 = mix(seed * 0x9E3779B97F4A7C15L + id)
        // u(k): the k-th uniform double of this row.
        def u(k: Int): Double = (mix(h0 + k * 0x632BE59BD9B4E019L) >>> 11) / 9007199254740992.0
        val date = dates((u(4) * dates.size).toInt)
        val o = airportSlots((u(6) * 1000).toInt)
        val d0 = airportSlots((u(7) * 1000).toInt)
        val d = if (d0 == o) (o + 1) % airports.size else d0
        val carrier = carriers(carrierSlots((u(8) * carrierSlots.size).toInt))._1
        val cancelled = u(1) < 0.02
        // Delay mixture: 62 % early/on time, 23 % 1-14 min, 15 % 15-314 min.
        val r = u(2)
        val delay =
          if (r < 0.62) (u(3) * 16).toLong - 15
          else if (r < 0.85) (u(3) * 14).toLong + 1
          else (math.pow(u(3), 2) * 300).toLong + 15
        val crs = (u(5) * 19 * 60).toInt + 5 * 60
        val dist = 100 + java.lang.Math.floorMod(mix(o * 1000L + d), 2400L)
        val elapsed = dist / 8 + 25 + (u(9) * 20).toLong
        val late = !cancelled && delay >= 15
        if (isHub(o)) hub += 1

        b.setLength(0)
        cell(2025); cell(1); cell(m); cell(date.getDayOfMonth)
        cell(date.getDayOfWeek.getValue); cell(date)
        cell(carrier)
        b.append('N').append(100 + java.lang.Math.floorMod(mix(h0 + 15), 900L)).append(carrier)
          .append(',')
        cell((u(16) * 6999).toInt + 1)
        Seq(airports(o), airports(d)).foreach { case (code, city, st) =>
          cell(code); b.append('"').append(city).append("\","); cell(st) }
        cell(hhmm(crs))
        if (cancelled) { blank(); blank(); blank(); blank() }
        else {
          val dep = java.lang.Math.floorMod(crs + delay.toInt, 1440)
          cell(if (dep == 0) 2400 else hhmm(dep))
          measure(delay); measure(math.max(delay, 0L))
          b.append(if (late) "1.00," else "0.00,")
        }
        b.append(blocks(crs / 60)).append(',')
        if (cancelled) { blank(); blank() }
        else { measure(elapsed); measure(elapsed - (u(17) * 15).toLong - 10) }
        measure(dist)
        if (late) {
          val carrierD = (delay * u(10) * 0.5).toLong
          val weatherD = (delay * u(11) * 0.1).toLong
          val nasD = (delay * u(12) * 0.2).toLong
          val securityD = if (u(13) < 0.01) (u(14) * 10).toLong else 0L
          Seq(carrierD, weatherD, nasD, securityD,
            delay - carrierD - weatherD - nasD - securityD).foreach(measure)
        } else (1 to 5).foreach(_ => blank())
        b.append(if (cancelled) "1.00" else "0.00").append('\n')
        out.append(b)
        id += 1
      }
    } finally out.close()
    hub
  }
}
