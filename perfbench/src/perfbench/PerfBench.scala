package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{OceanEngine, SparkEntry}
import graft.cache.ResultCache
import graft.core.{GraftSession, Grid, Tables}
import graft.ops.{Clean, Quality}
import graft.pipeline.PipelineOrchestrator
import graft.sources.{ErddapSource, ErddapUrl, FixtureBackend, SourceBackend}
import graft.streaming.EventStreams

/** The JVM side of the benchmark. `run.py` builds the program, generates
  * the seeded inputs and starts this main once per run:
  *
  * {{{PerfBench <workload> <inputs.json> <dataDir> <runDir> <seconds> <trace 0|1> <cpus> <result.json>}}}
  *
  * A run warms the JVM up on throwaway state for `warmupOps` operations, sets
  * the workload up `setups` times (a fresh Spark session each time),
  * then drives one closed loop — one client, no think time — for
  * `seconds` from fresh state, then checks the outputs outside the timed
  * region and writes `result.json`. With trace 1 the loop runs with spans and the
  * Spark listeners on, and a second, untraced pass of the same inputs
  * gives the tracing overhead. */
object PerfBench {
  private val mapper = new ObjectMapper()
  /** A warm-up stops at this time even short of its operations, so that
    * a run on a contended host still ends in time. */
  val WarmupCapSeconds = 20.0

  def main(argv: Array[String]): Unit = {
    val Array(workload, inputsPath, dataDir, runDirS, secondsS, traceS, cpus, outPath) = argv
    if (workload == "expect") { Expect.run(dataDir, cpus, Paths.get(outPath)); return }
    val inputs = mapper.readTree(Paths.get(inputsPath).toFile)
    val runDir = Paths.get(runDirS)
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val wl: Workload = workload match {
      case "catalog" => new Catalog(inputs, dataDir)
      case "ocean"   => new Ocean(inputs)
      case "ingest"  => new Ingest(inputs)
      case other     => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    // The JVM's first session (class loading) and the warm-up come
    // first, so that the set-ups measure a running JVM and the JIT
    // finishes compiling the warm-up's code while they run.
    val c0 = System.nanoTime()
    var spark = GraftSession.build(s"perfbench-$workload", cpus)
    val coldStartS = (System.nanoTime() - c0) / 1e9
    val w0 = System.nanoTime()
    wl.warmUp(spark, runDir.resolve("warmup"), wl.warmupOps)
    val warmupS = (System.nanoTime() - w0) / 1e9

    // set-up: session build plus the workload's program set-up, repeated
    val buildS = ArrayBuffer.empty[Double]
    val programS = ArrayBuffer.empty[Double]
    for (k <- 0 until wl.setups) {
      wl.teardown()
      stopSession(spark)
      wl.beforeSetup()
      val t0 = System.nanoTime()
      spark = GraftSession.build(s"perfbench-$workload", cpus)
      val t1 = System.nanoTime()
      wl.setup(spark, runDir.resolve(s"setup$k"))
      val t2 = System.nanoTime()
      buildS += (t1 - t0) / 1e9
      programS += (t2 - t1) / 1e9
    }
    val setupS = buildS.zip(programS).map { case (a, b) => a + b }

    val sc = spark.sparkContext
    wl.teardown()
    wl.setup(spark, runDir.resolve("measured"))
    val tracer = new Tracer(sc, enabled = trace)
    if (trace) {
      sc.addSparkListener(tracer.listener)
      spark.listenerManager.register(tracer.planListener)
    }
    val pass = wl.run(spark, tracer, seconds)
    wl.teardown()
    org.apache.spark.perfbench.ListenerDrain(sc)

    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("workload", workload)
    res.put("attempted", pass.attempted)
    res.put("failed", pass.failed)
    val e2e = new java.util.LinkedHashMap[String, Any]()
    e2e.put("setup_s", Stats.median(setupS.toSeq))
    pass.e2e.foreach { case (k, v) => e2e.put(k, v) }
    res.put("e2e", e2e)
    pass.named("rss_peak_mb") = (rssPeakMb(), "MB", 1)
    res.put("named", pass.named.map { case (n, (v, u, cnt)) =>
      jmap("name" -> n, "value" -> v, "unit" -> u, "n" -> cnt) }.asJava)
    res.put("setup", jmap("runs" -> wl.setups, "cold_start_s" -> coldStartS, "warmup_s" -> warmupS, "setup_s" -> setupS.asJava,
      "session_build_s" -> buildS.asJava, "program_setup_s" -> programS.asJava))
    res.put("failures", pass.failures.toSeq.sortBy(_._1).map { case ((op, cls), n) =>
      jmap("op" -> op, "exception" -> cls, "count" -> n,
        "message" -> pass.firstMessage.getOrElse((op, cls), "")) }.asJava)
    res.put("unchecked", pass.unchecked.asJava)

    if (trace) {
      sc.removeSparkListener(tracer.listener)
      spark.listenerManager.unregister(tracer.planListener)
      val d = SelfTime.decompose(tracer)
      // the catalog's program set-up is loading its tables through core.Tables
      val tablesS = if (workload == "catalog") Stats.median(programS.toSeq) else 0.0
      res.put("per_layer", Layers.metrics(tracer, d, pass, Stats.median(buildS.toSeq), tablesS))
      // the same inputs again with tracing off, from fresh state, for the overhead
      val tracedOutcomes = wl.outcomes
      wl.setup(spark, runDir.resolve("untraced"))
      val plain = wl.run(spark, new Tracer(sc, enabled = false), seconds)
      wl.teardown()
      wl.compareUntraced(pass, tracedOutcomes)
      res.put("trace", Layers.summary(tracer, d, pass, plain))
      Layers.writeSpans(tracer, Paths.get(outPath).resolveSibling("trace.jsonl"))
    }
    res.put("correct", pass.checks.forall(_._2))
    res.put("checks", pass.checks.map { case (n, ok, d) =>
      jmap("name" -> n, "ok" -> ok, "detail" -> d) }.asJava)
    stopSession(spark)
    Files.writeString(Paths.get(outPath), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(res))
  }

  def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Peak resident set of this JVM over the whole run. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def elements(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** What one timed pass of a workload observed. */
final class Pass {
  val latencies = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val failures = mutable.Map.empty[(String, String), Int].withDefaultValue(0)
  val firstMessage = mutable.Map.empty[(String, String), String]
  var attempted = 0
  var failed = 0
  var loopS = 0.0
  /** The exception class of the last failed operation. */
  var lastError = ""
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val unchecked = ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val named = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def lat(kind: String): ArrayBuffer[Double] = latencies.getOrElseUpdate(kind, ArrayBuffer.empty)

  /** Time one operation. A failure is counted with its exception class
    * and never retried or filtered; only completed operations get a
    * latency. */
  def timed(kind: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      val s = (System.nanoTime() - t0) / 1e9
      lat(kind) += s
      System.err.println(f"[perfbench] $kind%s $s%.4f")
      Some(s)
    } catch {
      case NonFatal(e) =>
        failed += 1
        val key = (kind, e.getClass.getName)
        lastError = key._2
        failures(key) += 1
        firstMessage.getOrElseUpdate(key,
          Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("").take(200))
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))

  /** The median latency of completed operations, with its sample count. */
  def medianNamed(name: String, xs: Seq[Double]): Double = {
    val v = Stats.median(xs)
    named(name) = (v, "s", xs.length)
    v
  }
}

trait Workload {
  /** Set-ups per run; `setup_s` is their median. */
  def setups: Int = 5
  /** A long-running server has its code JIT-compiled; the first seconds of
    * a fresh JVM are several times slower and are not measured. The
    * warm-up is a number of operations, not a time: the JIT compiles by
    * invocation counts, so a count leaves the same JIT state however fast
    * the host is, where a time left a slow host's runs colder. */
  def warmupOps: Int
  /** Reset process-wide state so that every set-up starts cold. */
  def beforeSetup(): Unit = ()
  /** The program set-up that follows the session build. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** A closed loop for `seconds`, or until `maxOps` operations started. */
  def run(spark: SparkSession, tr: Tracer, seconds: Double, maxOps: Int = Int.MaxValue): Pass
  def teardown(): Unit = ()
  /** Per-operation outcomes of the last pass, for [[compareUntraced]]. */
  def outcomes: Seq[String] = Nil
  /** With tracing on, check the traced pass against the untraced one. */
  def compareUntraced(traced: Pass, tracedOutcomes: Seq[String]): Unit = ()
  /** Untimed: the workload's own loop on throwaway state. */
  def warmUp(spark: SparkSession, dir: Path, ops: Int): Unit = {
    setup(spark, dir)
    run(spark, new Tracer(spark.sparkContext, enabled = false), PerfBench.WarmupCapSeconds, ops)
    teardown()
  }
}

/** Analyst: a sample of the SparkEntry query catalog, one query per cost
  * sixth, in a seeded order. Each query runs cold (planning and code
  * generation included) and at once again warm, through the `noop` sink;
  * then the sample keeps running warm until the time is up. */
final class Catalog(in: JsonNode, dataDir: String) extends Workload {
  private val order = PerfBench.elements(in.get("order")).map(_.asText)
  private val expected = in.get("expected")
  private val unchecked = PerfBench.elements(in.get("unchecked")).map(_.asText).toSet

  override def beforeSetup(): Unit = Tables.invalidateAll()
  // a set-up takes over a second (the tables' schemas), so few are enough
  override def setups: Int = 3
  // rounds of generic queries, not the workload's own: each measured
  // first run stays cold
  override def warmupOps: Int = 1

  /** Scans, aggregations, a join, a window and a sort over the tables,
    * through the noop sink, repeated `rounds` times. No catalog query
    * runs, so each measured first run stays cold. */
  override def warmUp(spark: SparkSession, dir: Path, rounds: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val deadline = System.nanoTime() + (PerfBench.WarmupCapSeconds * 1e9).toLong
    var round = 0
    while (round < rounds && System.nanoTime() < deadline) {
      val li = Tables.lineitem(spark, dataDir)
      val orders = Tables.orders(spark, dataDir)
      Seq(
        li.groupBy("l_returnflag").agg(count(lit(1)), sum(col("l_quantity") + round)),
        li.join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus").agg(avg(col("l_extendedprice"))),
        orders.withColumn("r", row_number().over(Window.partitionBy("o_custkey").orderBy("o_orderdate"))),
        Tables.documents(spark, dataDir).orderBy(length(col("text"))),
        Tables.events(spark, dataDir).groupBy("event_type").agg(max(col("ts")))
      ).foreach(_.write.format("noop").mode("overwrite").save())
      round += 1
    }
  }

  def setup(spark: SparkSession, dir: Path): Unit = Tables.registerAll(spark, dataDir)

  def run(spark: SparkSession, tr: Tracer, seconds: Double, maxOps: Int): Pass = {
    val p = new Pass
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val done = mutable.LinkedHashSet.empty[String]
    def once(name: String): Unit = tr.op("catalog.query") {
      val df = tr.span("sparkentry.build")(SparkEntry.queries(name)(spark, dataDir))
      tr.span("sparkentry.run")(df.write.format("noop").mode("overwrite").save())
    }
    val plan = order.iterator.flatMap(n => Iterator(("cold", n), ("warm", n))) ++
      Iterator.continually(order).flatten.map(n => ("warm", n))
    val coldOf = mutable.Map.empty[String, Double]
    val warmOf = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    // the first round (each query cold, then warm) always completes, so
    // that every run measures the whole sample
    var firstRound = 2 * order.length
    while (firstRound > 0 || System.nanoTime() < deadline) {
      firstRound -= 1
      val (kind, name) = plan.next()
      p.timed(kind)(once(name)).foreach { t =>
        done += name
        if (kind == "cold") coldOf(name) = t
        else warmOf.getOrElseUpdate(name, ArrayBuffer.empty) += t
      }
    }
    p.loopS = (System.nanoTime() - t0) / 1e9

    // outputs, outside the timed region: row count and an
    // order-insensitive hash per query against the committed
    // expectations, four queries at a time
    p.unchecked ++= done.filter(unchecked)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futures = done.toSeq.filterNot(unchecked).map { name =>
        scala.concurrent.Future {
          val exp = expected.get(name)
          try {
            val (rows, hash) = Expect.rowsAndHash(SparkEntry.queries(name)(spark, dataDir))
            val ok = exp != null && exp.get("rows").asLong == rows && exp.get("hash").asText == hash
            (s"catalog.$name", ok, s"rows=$rows hash=$hash expected rows=" +
              s"${Option(exp).map(_.get("rows")).orNull} hash=${Option(exp).map(_.get("hash")).orNull}")
          } catch {
            case NonFatal(e) => (s"catalog.$name", false, s"check failed: ${e.getClass.getName}")
          }
        }(ec)
      }
      futures.foreach(f => p.checks += scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()

    // A query's warm time is the better of its first two warm runs (the
    // one right after its cold run and the one in the next round), as
    // Bench takes a minimum against scheduler and GC swings; runs after
    // those count only in work_per_s, since which queries get them
    // depends on the seeded order. The sample is fixed, so its geometric
    // mean is the catalog's figure: unlike a median of ten, it moves
    // with every query's time.
    val coldBy = done.toSeq.flatMap(n => coldOf.get(n))
    val warmBy = warmOf.values.map(_.take(2).min).toSeq
    p.e2e("op_s") = Stats.geomean(warmBy)
    p.e2e("heavy_s") = Stats.geomean(coldBy)
    p.named("query_warm_geomean_s") = (p.e2e("op_s"), "s", warmBy.length)
    p.named("query_cold_geomean_s") = (p.e2e("heavy_s"), "s", coldBy.length)
    p.medianNamed("query_warm_p50_s", warmBy)
    p.medianNamed("query_cold_p50_s", coldBy)
    p.e2e("work_per_s") = p.attempted / p.loopS
    p.named("queries_per_s") = (p.e2e("work_per_s"), "1/s", p.attempted)
    p
  }
}

/** Dashboard user: seeded clicks on grid points, replayed from generated
  * griddap bodies. A click fetches the point (cache hit, or source fetch
  * → clean → quality → cache put), collects the rows and computes the
  * summary table; every Nth click also lists nearby cached queries and
  * every Mth runs the extract → transform → load export. */
final class Ocean(in: JsonNode) extends Workload {
  final case class Point(lat: Double, lon: Double, start: String, end: String, body: String,
                         rows: Long, score: Double)
  private val points = PerfBench.elements(in.get("points")).map { n =>
    Point(n.get("lat").asDouble, n.get("lon").asDouble, n.get("start").asText, n.get("end").asText,
      n.get("body").asText, n.get("rows").asLong, n.get("score").asDouble)
  }
  private val clicks = PerfBench.elements(in.get("clicks")).map(_.asInt)
  private val nearbyEvery = in.get("nearby_every").asInt
  private val exportEvery = in.get("export_every").asInt
  private val vars = ErddapUrl.DefaultVariables
  // a set-up takes about 0.1 s, so its median needs many
  override def setups: Int = 12
  // a fresh JVM's first click takes about 10 s, the next ones 1–3 s
  override def warmupOps: Int = 4

  private var dir: Path = _
  private var cache: ResultCache = _
  private var source: ErddapSource = _
  private var engine: OceanEngine = _
  private val calls = new AtomicLong
  private val callFailures = new AtomicLong
  private val waitedMs = new AtomicLong

  def setup(spark: SparkSession, d: Path): Unit = {
    dir = d
    calls.set(0); callFailures.set(0); waitedMs.set(0)
    // the first request fails once, so the retry path runs every pass
    val fixture = new FixtureBackend(
      points.map(p => ErddapUrl.build(p.lat, p.lon, p.start, p.end, vars) -> p.body).toMap, failFirst = 1)
    val counting = new SourceBackend {
      def get(url: String): String = {
        calls.incrementAndGet()
        try fixture.get(url) catch { case e: Exception => callFailures.incrementAndGet(); throw e }
      }
    }
    // the rate limiter and back-off still run; their waits are recorded, not slept
    source = new ErddapSource(counting, sleeper = ms => { waitedMs.addAndGet(ms); () })
    cache = new ResultCache(spark, d.resolve("cache").toString)
    engine = new OceanEngine(spark, source, Some(cache))
  }

  /** The click's fetch. Traced, it makes the calls of
    * `OceanEngine.fetchObservations` itself, one span per layer call (the
    * engine and the cache are final, so they cannot be wrapped). This copy
    * must follow `OceanEngine.fetchObservations`: the traced run fails its
    * `ocean.traced_matches_engine` check when the copy's clicks differ
    * from the untraced pass's, which calls the engine. */
  private def fetch(spark: SparkSession, tr: Tracer, p: Point): (DataFrame, Double, Boolean) =
    if (!tr.enabled) {
      val r = engine.fetchObservations(p.lat, p.lon, p.start, p.end, vars)
      (r.data, r.quality.qualityScore, r.fromCache)
    } else {
      Grid.validateCoords(p.lat, p.lon).left.foreach(m => throw new IllegalArgumentException(m))
      Grid.validateDates(p.start, p.end).left.foreach(m => throw new IllegalArgumentException(m))
      val (sLat, sLon) = Grid.snap(p.lat, p.lon)
      tr.span("cache.get")(cache.get(sLat, sLon, p.start, p.end, vars)) match {
        case Some(df) =>
          (df, tr.span("ops.quality")(Quality.report(df)).qualityScore, true)
        case None =>
          val (body, _) = tr.span("sources.fetch")(source.fetchRaw(p.lat, p.lon, p.start, p.end, vars))
          val raw = tr.span("sources.parse")(source.toRawDataFrame(spark, body))
          val cleaned = tr.span("ops.clean")(Clean.cleanApiResponse(raw))
          val report = tr.span("ops.quality")(Quality.report(cleaned))
          if (report.qualityScore > 0.0)
            tr.span("cache.put")(cache.put(sLat, sLon, p.start, p.end, vars, cleaned))
          (cleaned, report.qualityScore, false)
      }
    }

  /** What each attempted click of the last pass gave, in click order:
    * whether it hit the cache, its rows and quality score, or the class
    * of its exception. */
  private var lastClicks: Seq[String] = Nil

  /** With tracing on: compare the traced pass's clicks with those of the
    * untraced pass over the same inputs, on the clicks both made. */
  override def compareUntraced(traced: Pass, tracedClicks: Seq[String]): Unit = {
    val n = math.min(tracedClicks.length, lastClicks.length)
    val diff = (0 until n).find(i => tracedClicks(i) != lastClicks(i))
    traced.check("ocean.traced_matches_engine", n > 0 && diff.isEmpty,
      diff.map(i => s"click $i: traced ${tracedClicks(i)}, untraced ${lastClicks(i)}")
        .getOrElse(s"$n clicks compared"))
  }
  override def outcomes: Seq[String] = lastClicks

  final class Outcome {
    val seen = ArrayBuffer.empty[(Int, Long, Double)]
    val hitS = ArrayBuffer.empty[Double]
    val missS = ArrayBuffer.empty[Double]
  }

  private def loop(spark: SparkSession, tr: Tracer, seconds: Double, maxOps: Int, p: Pass,
                   o: Outcome): Unit = {
    var exports = 0
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val it = clicks.iterator
    val outcomes = ArrayBuffer.empty[String]
    var i = 0
    while (it.hasNext && i < maxOps && System.nanoTime() < deadline) {
      val pi = it.next()
      val pt = points(pi)
      var hit = false
      var outcome = "?"
      p.timed("click")(tr.op("ocean.click") {
        val (df, score, fromCache) = fetch(spark, tr, pt)
        hit = fromCache
        outcome = s"hit=$hit"
        val rows = tr.span("ops.collect")(df.collect().length.toLong)
        outcome = s"hit=$hit rows=$rows score=$score"
        tr.span("ops.describe")(engine.summary(df).collect())
        o.seen += ((pi, rows, score))
      }) match {
        case Some(s) => if (hit) o.hitS += s else o.missS += s
        case None => outcome += s" failed ${p.lastError}"
      }
      outcomes += outcome
      if ((i + 1) % nearbyEvery == 0)
        p.timed("nearby")(tr.op("ocean.nearby")(
          tr.span("cache.nearby")(engine.nearbyCached(pt.lat, pt.lon).get.collect())))
      if ((i + 1) % exportEvery == 0) {
        exports += 1
        p.timed("export")(tr.op("ocean.export") {
          val orch = new PipelineOrchestrator(spark, source,
            dir.resolve(s"export$exports").toString, Some(cache))
          tr.span("pipeline.extract")(orch.extract(pt.lat, pt.lon, pt.start, pt.end))
          tr.span("pipeline.transform")(orch.transform())
          tr.span("pipeline.load")(orch.load())
        })
      }
      i += 1
    }
    p.loopS = (System.nanoTime() - t0) / 1e9
    lastClicks = outcomes.toSeq
  }

  def run(spark: SparkSession, tr: Tracer, seconds: Double, maxOps: Int): Pass = {
    val p = new Pass
    val o = new Outcome
    loop(spark, tr, seconds, maxOps, p, o)

    // rows and quality score per completed click against the generator's bodies
    o.seen.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (pi, seen) =>
      val pt = points(pi)
      val bad = seen.filterNot { case (_, rows, score) =>
        rows == pt.rows && math.abs(score - pt.score) < 1e-9 }
      p.check(s"ocean.point$pi", bad.isEmpty,
        s"expected rows=${pt.rows} score=${pt.score}; " +
        bad.headOption.map { case (_, r, s) => s"got rows=$r score=$s" }.getOrElse(s"${seen.length} clicks ok"))
    }

    val click = p.lat("click").toSeq
    p.medianNamed("click_p50_s", click)
    // A run completes 4–6 clicks, hits and misses: their median jumps
    // between the two, their mean does not.
    p.named("click_mean_s") = (Stats.mean(click), "s", click.length)
    p.e2e("op_s") = p.named("click_mean_s")._1
    p.e2e("heavy_s") = p.medianNamed("miss_click_p50_s", o.missS.toSeq)
    p.e2e("work_per_s") = p.attempted / p.loopS
    p.medianNamed("hit_click_p50_s", o.hitS.toSeq)
    p.named("ocean_ops_per_s") = (p.e2e("work_per_s"), "1/s", p.attempted)

    val clicksDone = o.hitS.length + o.missS.length
    p.layer("cache.hit_ratio") = if (clicksDone == 0) 0.0 else o.hitS.length.toDouble / clicksDone
    val (files, bytes) = Layers.dirUsage(dir.resolve("cache"))
    p.layer("cache.files") = files.toDouble
    p.layer("cache.bytes") = bytes.toDouble
    p.layer("cache.entries") = Layers.subdirs(dir.resolve("cache").resolve("meta")).toDouble
    p.layer("sources.requests") = calls.get.toDouble
    p.layer("sources.retries") = callFailures.get.toDouble
    p.layer("sources.rate_wait_ms") = waitedMs.get.toDouble
    p
  }
}

/** Operator: seeded document batches (fresh texts, exact reposts,
  * near-duplicate edits) through the exact + near-duplicate ingest
  * stream until the time is up, then one compaction of the landing. */
final class Ingest(in: JsonNode) extends Workload {
  private val batches: Seq[Seq[(Long, String)]] = PerfBench.elements(in.get("batches")).map(b =>
    PerfBench.elements(b).map(d => (d.get(0).asLong, d.get(1).asText)))
  private val reposts = PerfBench.elements(in.get("exact_reposts")).map(_.asLong).toSet

  private var input: MemoryStream[(Long, String)] = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var landing: String = _
  private var next = 0
  private var docs = 0L
  private val offered = mutable.Set.empty[Long]
  override def setups: Int = 5
  // a fresh JVM's first batch takes about 10 s
  override def warmupOps: Int = 1

  def setup(spark: SparkSession, dir: Path): Unit = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[(Long, String)]
    landing = dir.resolve("landing").toString
    next = 0; docs = 0L; offered.clear()
    query = EventStreams.ingestPipeline(input.toDF().toDF("doc_id", "text"), landing,
      dir.resolve("checkpoint").toString)
  }

  override def teardown(): Unit = if (query != null) { query.stop(); query = null }

  def run(spark: SparkSession, tr: Tracer, seconds: Double, maxOps: Int): Pass = {
    val p = new Pass
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (query != null && next < math.min(batches.length, maxOps) && System.nanoTime() < deadline)
      batch(tr, p)
    p.loopS = (System.nanoTime() - t0) / 1e9
    finish(spark, tr, p)
    // A run completes about 2 batches, and a stream's second batch is always
    // the slowest: their mean is steadier between runs than their median.
    p.e2e("op_s") = p.named("batch_mean_s")._1
    // The heavy operation is the slowest batch: a compaction's time
    // follows what landed, which moved it 27% between seeds. The
    // compaction counts in the throughput instead.
    p.named("batch_max_s") = (p.lat("batch").maxOption.getOrElse(Double.NaN), "s", p.lat("batch").length)
    p.e2e("heavy_s") = p.named("batch_max_s")._1
    p.e2e("work_per_s") = docs / (p.loopS + p.named("compact_s")._1)
    p
  }

  /** One micro-batch. A failed batch kills the stream: it is stopped and
    * the loop ends. */
  private def batch(tr: Tracer, p: Pass): Unit = {
    val b = batches(next)
    val ok = p.timed("batch")(tr.op("ingest.batch") {
      tr.span("streaming.batch") {
        tr.bindBatch(next.toLong)
        input.addData(b)
        query.processAllAvailable()
      }
    })
    next += 1
    if (ok.isDefined) { b.foreach(d => offered += d._1); docs += b.length } else teardown()
  }

  /** Stop the stream, compact the landing, check what landed. */
  private def finish(spark: SparkSession, tr: Tracer, p: Pass): Unit = {
    val batchS = p.lat("batch").toSeq
    p.medianNamed("batch_p50_s", batchS)
    p.named("batch_mean_s") = (Stats.mean(batchS), "s", batchS.length)
    p.named("ingest_docs_per_s") = (docs / p.loopS, "1/s", batchS.length)
    teardown()
    if (!Files.exists(Paths.get(landing))) { p.named("compact_s") = (Double.NaN, "s", 0); return }
    val (files, bytes) = Layers.dirUsage(Paths.get(landing))
    val before = spark.read.parquet(landing).count()
    p.layer("streaming.landed_rows") = before.toDouble
    p.layer("streaming.landed_files") = files.toDouble
    p.layer("streaming.landed_bytes") = bytes.toDouble
    p.layer("streaming.kept_ratio") = if (docs == 0) 0.0 else before.toDouble / docs
    // One compaction is one short sample; two copies of the landing,
    // made untimed, are compacted too, and compact_s is the median of three.
    val copies = (1 to 2).map { k =>
      val c = Paths.get(s"$landing-copy$k")
      Layers.copyTree(Paths.get(landing), c)
      c.toString
    }
    val compacts = (copies :+ landing).flatMap(l => p.timed("compact")(tr.op("ingest.compact")(
      tr.span("streaming.compact")(EventStreams.compactLanding(spark, l, 4)))))
    p.named("compact_s") = (Stats.median(compacts), "s", compacts.size)

    // outputs, outside the timed region
    val landed = spark.read.parquet(landing).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ids = landed.map(_._1)
    val stray = ids.filterNot(offered)
    p.check("ingest.only_offered_ids", stray.isEmpty, s"${stray.length} landed doc_ids never offered")
    val twice = landed.length - landed.map(_._2).distinct.length
    p.check("ingest.no_text_twice", twice == 0, s"$twice texts landed more than once")
    // An exact repost may land when no doc with its text landed before
    // it: its original can be dropped as a near-duplicate of a doc that
    // itself never landed (keeper rules are not transitive). What must
    // never happen is a repost landing next to its original.
    val landedIds = ids.toSet
    val firstWith = mutable.Map.empty[String, Long]
    batches.flatten.foreach { case (id, text) => if (!firstWith.contains(text)) firstWith(text) = id }
    val reposted = landed.filter { case (id, _) => reposts(id) }
    val withOriginal = reposted.count { case (_, text) => landedIds(firstWith(text)) }
    p.check("ingest.no_exact_repost", withOriginal == 0,
      s"$withOriginal exact reposts landed next to their original; " +
      s"${reposted.length} landed whose original did not")
    p.check("ingest.compaction_keeps_rows", landed.length == before,
      s"${landed.length} rows after compaction, $before before")
  }
}

/** Expectations for the catalog checks: row count and order-insensitive
  * hash of every query, plus its first-execution time (used to stratify
  * the seeded order by cost). */
object Expect {
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val h = xxhash64(to_json(struct(df.columns.toSeq.map(c => df.col(s"`$c`")): _*)))
    val r = df.select(h.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(30,0)"))).collect().head
    (r.getLong(0), r.get(1).toString)
  }

  def run(dataDir: String, cpus: String, out: Path): Unit = {
    val spark = GraftSession.build("perfbench-expect", cpus)
    Tables.registerAll(spark, dataDir)
    val res = new java.util.TreeMap[String, Any]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      fn(spark, dataDir).write.format("noop").mode("overwrite").save()
      val cold = (System.nanoTime() - t0) / 1e9
      val (rows, hash) = rowsAndHash(fn(spark, dataDir))
      res.put(name, PerfBench.jmap("rows" -> rows, "hash" -> hash, "cold_s" -> cold))
    }
    PerfBench.stopSession(spark)
    Files.writeString(out, new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(res))
  }
}
