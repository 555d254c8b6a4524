package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.cache.ResultCache
import graft.sources.{ErddapSource, ErddapUrl, FixtureBackend}

/** The facade contract the reference's dashboard relies on
  * (SURVEY §3.2): fetch → clean+score, summary shape, cache behavior. */
class OceanEngineSpec extends AnyFunSuite with SparkTestSession {

  private val body = Fixtures.read("sea_surface_sample.csv")

  private def engine(
      withCache: Boolean = false,
      urls: Map[String, String] =
        Map(ErddapUrl.build(32.5, -70.0, "1960-01-01", "1960-02-01") -> body))
      : (OceanEngine, FixtureBackend) = {
    val backend = new FixtureBackend(urls)
    val cache =
      if (withCache) Some(new ResultCache(spark, Files.createTempDirectory("graft-eng").toString))
      else None
    (new OceanEngine(spark, new ErddapSource(backend, minIntervalMs = 0, sleeper = _ => ()), cache),
     backend)
  }

  test("fetchObservations: validate -> fetch -> clean -> score") {
    val (e, _) = engine()
    val r = e.fetchObservations(32.5, -70.0, "1960-01-01", "1960-02-01")
    assert(!r.fromCache)
    assert(r.snappedLat == 32.5 && r.snappedLon == -70.0)
    assert(r.data.count() == 1)
    assert(r.quality.qualityScore == 1.0)
    val row = r.data.collect().head
    assert(row.getAs[Double]("temperature") == 21.36956)
  }

  test("fetchObservations rejects invalid input before any fetch") {
    val (e, backend) = engine()
    intercept[IllegalArgumentException] {
      e.fetchObservations(40.0, -100.0, "1960-01-01", "1960-02-01")
    }
    intercept[IllegalArgumentException] {
      e.fetchObservations(32.5, -70.0, "1960-02-01", "1960-01-01")
    }
    assert(backend.attempts == 0)
  }

  test("cache: second fetch is served without touching the source") {
    val (e, backend) = engine(withCache = true)
    val r1 = e.fetchObservations(32.5, -70.0, "1960-01-01", "1960-02-01")
    assert(!r1.fromCache && backend.attempts == 1)
    val r2 = e.fetchObservations(32.5, -70.0, "1960-01-01", "1960-02-01")
    assert(r2.fromCache && backend.attempts == 1)
    assert(r2.data.collect().head.getAs[Double]("salinity") == 36.396088)
    // nearby sees the cached entry at the snapped coords
    val near = e.nearbyCached(32.4, -70.1).get.collect()
    assert(near.length == 1 && near.head.getAs[Double]("latitude") == 32.5)
  }

  test("fetchManyObservations: batch fetch, cleaned union, failures contained") {
    val dates = ("1960-01-01", "1960-02-01")
    val fixtures = Map(
      ErddapUrl.build(32.5, -70.0, dates._1, dates._2) -> body,
      ErddapUrl.build(32.25, -70.25, dates._1, dates._2) -> body)
    val (e, _) = engine()
    val mf = e.fetchManyObservations(
      Seq((32.5, -70.0), (32.25, -70.25), (30.0, -75.0)), // last has no fixture
      dates._1, dates._2,
      backendFactory = () => new FixtureBackend(fixtures))
    val rows = mf.rows.collect()
    // cleaned shape: units row stripped, typed time, coords kept per point
    assert(mf.rows.columns.take(1).head == "time")
    assert(mf.rows.columns.takeRight(2).toSeq == Seq("req_lat", "req_lon"))
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Double]("req_lat")).distinct.sorted.toSeq == Seq(32.25, 32.5))
    assert(mf.rows.schema("time").dataType.typeName == "timestamp")
    import scala.jdk.CollectionConverters._
    assert(mf.failures.value.asScala.exists(_.startsWith("30.0,-75.0")))
  }

  test("summary: pandas-describe shape, stats as rows, rounded to 3") {
    val (e, _) = engine()
    val df = e.fetchObservations(32.5, -70.0, "1960-01-01", "1960-02-01").data
    val s = e.summary(df)
    assert(s.columns.toSeq ==
      Seq("summary", "depth", "latitude", "longitude", "temperature", "salinity"))
    val byStat = s.collect().map(r => r.getString(0) -> r).toMap
    assert(byStat.keySet == graft.ops.Describe.Stats.toSet)
    assert(byStat("count").getAs[Double]("temperature") == 1.0)
    assert(byStat("mean").getAs[Double]("temperature") == 21.370) // round3
    assert(byStat("50%").getAs[Double]("salinity") == 36.396)
  }

  /** Two years of monthly rows, out of time order, with a NaN cell in
    * each variable and one all-NaN row (a land-like month). */
  private val twoYears = ("1959-01-01", "1960-12-01")
  private val twoYearBody: String = {
    val rows = (0 until 24).map { m =>
      val temp = if (m == 5 || m == 13) "NaN" else f"${20.0 + m * 0.125}%.3f"
      val sal = if (m == 9 || m == 13) "NaN" else f"${36.0 + m * 0.0625}%.4f"
      f"${1959 + m / 12}-${m % 12 + 1}%02d-16T00:00:00Z,0.0,32.5,-70.0,$temp,$sal"
    }
    val scrambled = rows.indices.map(i => rows((i * 7) % rows.length))
    (Seq("time,depth,latitude,longitude,Temperature,Salinity",
         "UTC,m,degrees_north,degrees_east,degree_C,PSU") ++ scrambled).mkString("", "\n", "\n")
  }

  private def twoYearUrls(lons: Double*): Map[String, String] =
    lons.map(lon => ErddapUrl.build(32.5, lon, twoYears._1, twoYears._2) -> twoYearBody).toMap

  /** Spark jobs started by `body`, counted by a listener once the bus
    * has delivered every event. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftbridge.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.graftbridge.ListenerBus.drain(sc); jobs.get }
    finally sc.removeSparkListener(l)
  }

  test("a dashboard click runs at most 5 Spark jobs on a cache hit and 8 on a miss") {
    // the click: fetch, show the rows, show the summary table
    def click(e: OceanEngine, lon: Double): Boolean = {
      val r = e.fetchObservations(32.5, lon, twoYears._1, twoYears._2)
      r.data.collect()
      e.summary(r.data).collect()
      r.fromCache
    }
    val (e, backend) = engine(withCache = true, twoYearUrls(-70.0, -70.5))
    // warm the session on another point: a miss, then a hit
    assert(!click(e, -70.5) && click(e, -70.5))
    var hit = true
    val missJobs = jobsOf { hit = click(e, -70.0) }
    assert(!hit && backend.attempts == 2)
    val hitJobs = jobsOf { hit = click(e, -70.0) }
    assert(hit && backend.attempts == 2)
    info(s"miss $missJobs jobs, hit $hitJobs jobs")
    assert(missJobs <= 8, s"cache miss ran $missJobs jobs")
    assert(hitJobs <= 5, s"cache hit ran $hitJobs jobs")
  }

  test("a cache hit hands back the miss's frame: schema, rows, time order") {
    val (e, _) = engine(withCache = true, twoYearUrls(-70.0))
    val miss = e.fetchObservations(32.5, -70.0, twoYears._1, twoYears._2)
    val hit = e.fetchObservations(32.5, -70.0, twoYears._1, twoYears._2)
    assert(!miss.fromCache && hit.fromCache)
    assert(hit.data.schema == miss.data.schema)
    val rows = miss.data.collect().toSeq
    assert(hit.data.collect().toSeq == rows)
    // the all-NaN month is dropped, the NaN cells read as missing
    assert(rows.length == 23)
    val times = rows.map(_.getAs[java.sql.Timestamp]("time").getTime)
    assert(times == times.sorted)
    assert(rows.count(_.isNullAt(miss.data.schema.fieldIndex("temperature"))) == 1)
    assert(hit.quality == miss.quality)
    assert(e.summary(hit.data).collect().toSeq == e.summary(miss.data).collect().toSeq)
  }

  test("queryMetadata: snapping, validity, expected points, URL") {
    val (e, _) = engine()
    val m = e.queryMetadata(32.4, -70.1, "1960-01-01", "1960-03-01")
    assert(m("snapped") == ((32.5, -70.0)))
    assert(m("coordinates_valid") == true)
    assert(m("expected_points") == 3)
    assert(m("url").toString.contains("[60:62][106][90][60]"))
  }
}
