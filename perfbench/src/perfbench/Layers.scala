package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Per-layer metrics and the trace summary of a traced pass. Times are
  * seconds per call of the layer (inclusive of the Spark work it caused)
  * unless named per operation; counts are per operation or per run as
  * their names say. */
object Layers {
  private def secs(ns: Long): Double = ns / 1e9

  def metrics(tr: Tracer, d: SelfTime.Decomp, p: Pass, buildS: Double,
              tablesS: Double): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    val spans = tr.spans.toSeq
    val roots = spans.filter(_.parent == 0L)
    val opOf = spans.map(s => s.id -> s.op).toMap
    val jobs = tr.allJobs.filter(j => opOf.contains(j.owner))
    val nOps = math.max(roots.size, 1).toDouble
    def spanMean(name: String): Double = {
      val ds = spans.filter(_.name == name).map(s => secs(s.end - s.start))
      Stats.mean(ds)
    }
    def perOp(f: JobRec => Double, js: Seq[JobRec], n: Double): Double = js.map(f).sum / math.max(n, 1.0)

    m.put("core.session_build_s", buildS)
    m.put("core.tables_load_s", tablesS)
    m.put("sparkentry.build_s", spanMean("sparkentry.build"))
    m.put("plan.s", secs(d.layerSelfNs.getOrElse("plan", 0L)) / nOps)
    m.put("exec.jobs", jobs.size / nOps)
    m.put("exec.stages", perOp(_.stages.toDouble, jobs, nOps))
    m.put("exec.outside_jobs_s",
      Stats.mean(roots.map(r => secs((r.end - r.start) - d.opJobNs.getOrElse(r.id, 0L)))))
    m.put("exec.tasks", perOp(_.tasks.toDouble, jobs, nOps))
    m.put("exec.task_s", perOp(j => secs(j.taskNs), jobs, nOps))
    m.put("exec.gc_s", perOp(j => secs(j.gcNs), jobs, nOps))
    m.put("exec.shuffle_read_bytes", perOp(_.shuffleRead.toDouble, jobs, nOps))
    m.put("exec.shuffle_write_bytes", perOp(_.shuffleWrite.toDouble, jobs, nOps))
    m.put("exec.spill_bytes", perOp(_.spill.toDouble, jobs, nOps))
    Seq("cache.get", "cache.put", "cache.nearby", "sources.fetch", "sources.parse",
        "ops.quality", "ops.describe", "pipeline.extract", "pipeline.transform", "pipeline.load")
      .foreach(n => m.put(s"${n}_s", spanMean(n)))
    Seq("cache.hit_ratio", "cache.files", "cache.bytes", "cache.entries",
        "sources.requests", "sources.retries", "sources.rate_wait_ms")
      .foreach(n => m.put(n, p.layer.getOrElse(n, 0.0)))
    val batches = roots.filter(_.name == "ingest.batch")
    val batchIds = batches.map(_.id).toSet
    val batchJobs = jobs.filter(j => batchIds(opOf(j.owner)))
    val nb = batches.size.toDouble
    m.put("streaming.batch_s", Stats.mean(batches.map(b => secs(b.end - b.start))))
    m.put("streaming.jobs_per_batch", batchJobs.size / math.max(nb, 1.0))
    m.put("streaming.stages_per_batch", perOp(_.stages.toDouble, batchJobs, nb))
    m.put("streaming.tasks_per_batch", perOp(_.tasks.toDouble, batchJobs, nb))
    m.put("streaming.task_s_per_batch", perOp(j => secs(j.taskNs), batchJobs, nb))
    Seq("streaming.landed_rows", "streaming.landed_files", "streaming.landed_bytes",
        "streaming.kept_ratio")
      .foreach(n => m.put(n, p.layer.getOrElse(n, 0.0)))
    m
  }

  /** Self time per layer per operation, how much of each operation's
    * wall time the layers account for, and the cost of tracing. */
  def summary(tr: Tracer, d: SelfTime.Decomp, traced: Pass, plain: Pass): java.util.Map[String, Any] = {
    val ops = d.opWallNs.keys.toSeq
    val nOps = math.max(ops.size, 1).toDouble
    val self = new java.util.TreeMap[String, Any]()
    d.layerSelfNs.foreach { case (k, v) => self.put(k, secs(v) / nOps) }
    self.put("bench", secs(d.opBenchNs.values.sum) / nOps)
    val coverage = ops.map(o => 1.0 - d.opBenchNs.getOrElse(o, 0L).toDouble / math.max(d.opWallNs(o), 1L))
    val spanIds = tr.spans.map(_.id).toSet
    val outside = tr.allJobs.count(j => !spanIds(j.owner))
    val tracedOp = traced.e2e.getOrElse("op_s", Double.NaN)
    val plainOp = plain.e2e.getOrElse("op_s", Double.NaN)
    PerfBench.jmap(
      "ops" -> ops.size,
      "self_s_per_op" -> self,
      "coverage_median" -> Stats.median(coverage),
      "coverage_min" -> (if (coverage.isEmpty) Double.NaN else coverage.min),
      "ops_covered_90pct" -> (if (coverage.isEmpty) Double.NaN else coverage.count(_ >= 0.9) / nOps),
      "jobs_outside_operations" -> outside,
      "untraced_op_s" -> plainOp,
      "traced_op_s" -> tracedOp,
      "overhead_op" -> (tracedOp / plainOp - 1.0),
      "untraced_work_per_s" -> plain.e2e.getOrElse("work_per_s", Double.NaN),
      "traced_work_per_s" -> traced.e2e.getOrElse("work_per_s", Double.NaN))
  }

  /** Spans, jobs and planning phases as JSON lines. */
  def writeSpans(tr: Tracer, out: Path): Unit = {
    val mapper = new ObjectMapper()
    val lines = tr.spans.toSeq.map(s => PerfBench.jmap("kind" -> "span", "id" -> s.id,
        "name" -> s.name, "op" -> s.op, "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end)) ++
      tr.allJobs.map(j => PerfBench.jmap("kind" -> "job", "id" -> j.jobId, "parent" -> j.owner,
        "start_ns" -> j.start, "end_ns" -> j.end, "stages" -> j.stages, "tasks" -> j.tasks,
        "task_ns" -> j.taskNs, "gc_ns" -> j.gcNs, "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill)) ++
      tr.plans.toSeq.map { case (a, b) => PerfBench.jmap("kind" -> "plan", "start_ns" -> a, "end_ns" -> b) }
    Files.write(out, lines.map(mapper.writeValueAsString).asJava)
  }

  /** Regular files and their bytes under `dir`, hidden files included. */
  def dirUsage(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  def subdirs(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.count(Files.isDirectory(_)).toLong finally s.close()
    }
}
