package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload etl_cycle|operator_mix
  *   --seed N --seconds S --trace 0|1 --bench-dir DIR --work DIR --out FILE
  * }}}
  *
  * Writes the run's report (all end-to-end and per-layer metrics, error
  * accounting) as one JSON object to `--out`; the launcher
  * (run.py) turns it into the printed result.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, benchDir: String, work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("bench-dir"), need("work"), need("out"))
  }

  /** Task slots of the `local[n]` master: two, or one on a one-core host.
    * The other cores stay free for the driver thread, the GC and the JIT
    * compiler, so a stage does not wait on a task whose core the host lent
    * elsewhere; on 4 cores the mix ran as fast with two slots as with
    * four, and the ETL cycles are bound by the driver thread. */
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())
  /** Set-ups per run; each workload warms the JVM before them. */
  val SetupRepeats = 7
  val MiB = 1048576.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spec = new ObjectMapper().readTree(new java.io.File(s"${a.benchDir}/workloads.json"))
    val wl = Option(spec.get(a.workload)).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val spark = BenchSession.create(Cores, a.work)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val tr = new Tracer(spark.sparkContext, counters)
    val rep = new Report
    try {
      rep.note("loads", wl.get("loads").toString)
      if (a.workload == "operator_mix") runMix(spark, tr, rep, a, wl)
      else runEtl(spark, tr, rep, a, wl, spec.get("baseline"))
      val out = java.nio.file.Paths.get(a.out)
      java.nio.file.Files.writeString(out, rep.json)
      if (a.trace) tr.writeJsonl(java.nio.file.Paths.get(a.out + ".spans.jsonl"))
    } finally spark.stop()
  }

  private def median(xs: Seq[Double]) = Stats.median(xs)

  /** Set up `SetupRepeats` times from scratch; the median is `setup_s`. */
  private def timedSetups[T](rep: Report)(make: Int => T): T = {
    var last: Option[T] = None
    val ts = (0 until SetupRepeats).map { k =>
      val t0 = System.nanoTime()
      last = Some(make(k))
      (System.nanoTime() - t0) / 1e9
    }
    rep.e2e("setup_s", median(ts), "s")
    rep.note("setup_runs_s", ts.mkString("[", ",", "]"))
    last.get
  }

  /** Runs one operation; an exception counts as a failed operation. */
  private def failing[T](rep: Report, what: String)(op: => T): Option[T] =
    try Some(op)
    catch {
      case scala.util.control.NonFatal(e) =>
        rep.check(ok = false, s"$what threw $e")
        None
    }

  private def tailMetric(rep: Report, name: String, xs: Seq[Double], unit: String): Unit = {
    val (p, v) = Stats.tail(xs)
    rep.e2e(name, v, unit)
    rep.note(s"${name}_percentile", s"""{"percentile":$p,"samples":${xs.size}}""")
  }

  def runEtl(spark: SparkSession, tr: Tracer, rep: Report, a: Args,
      wl: JsonNode, baseline: JsonNode): Unit = {
    val gen = new Gen(a.seed, EtlParams.fromJson(wl))
    // warm the JVM on a throw-away store: the first set-up and cycles run
    // JIT-cold, up to ten times slower than the timed ones
    val warm = new Etl(spark, tr, gen, s"${a.work}/warm")
    warm.setup()
    (1 to gen.p.warmupCycles).foreach(c => warm.cycle(c, rep, audit = false))
    Etl.deleteTree(s"${a.work}/warm")
    val etl = timedSetups(rep) { k =>
      if (k > 0) Etl.deleteTree(s"${a.work}/etl${k - 1}")
      val e = new Etl(spark, tr, gen, s"${a.work}/etl$k")
      e.setup()
      e
    }

    JvmStats.resetHeapPeak()
    val gc0 = JvmStats.gcMs(); val jit0 = JvmStats.jitMs()
    val cycles = mutable.ArrayBuffer.empty[etl.Cycle]
    val w0 = System.nanoTime()
    var c = 1
    var broken = false
    while (!broken && (cycles.isEmpty || (System.nanoTime() - w0) / 1e9 < a.seconds)) {
      tr.on = a.trace && c % 2 == 1
      failing(rep, s"cycle $c")(etl.cycle(c, rep, audit = tr.on)) match {
        case Some(cy) => cycles += cy
        case None => broken = true // the store may be half-written: stop here
      }
      tr.on = false
      c += 1
    }
    require(cycles.nonEmpty, "no cycle completed")
    val wall = (System.nanoTime() - w0) / 1e9
    val heap = JvmStats.heapPeakMb()
    val gcS = (JvmStats.gcMs() - gc0) / 1e3; val jitMs = (JvmStats.jitMs() - jit0).toDouble
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val secs = cycles.map(_.seconds).toSeq
    val serve = cycles.flatMap(_.serveMs).toSeq
    // every round of the cadence runs each kind of cycle once (plain,
    // deploy, topology): a round's cycle time and row rate come from each
    // kind's median, so neither depends on how the window cut the rounds
    val byKind = cycles.groupBy(_.kind).values.toSeq
    val kindS = byKind.map(cs => median(cs.map(_.seconds).toSeq))
    val kindRows = byKind.map(cs => median(cs.map(_.rows.toDouble).toSeq))
    rep.e2e("cycle_s", kindS.sum / kindS.size, "s")
    rep.e2e("rows_per_s", kindRows.sum / kindS.sum, "1/s")
    rep.e2e("cycle_p50_s", median(secs), "s")
    tailMetric(rep, "cycle_tail_s", secs, "s")
    // one latency per G-query kind (its median over cycles), geomean'd:
    // stable however the kinds' latencies interleave in the pooled samples
    val kinds = cycles.head.serveMs.indices
    rep.e2e("serve_ms", Stats.geomean(kinds.map(k => median(cycles.map(_.serveMs(k)).toSeq))), "ms")
    rep.e2e("serve_p50_ms", median(serve), "ms")
    tailMetric(rep, "serve_tail_ms", serve, "ms")
    rep.e2e("heap_peak_mb", heap, "MiB")
    // printed in the report but not gated by BENCHMARK.json
    rep.e2e("wall_s", wall, "s")
    val q = math.max(1, secs.size / 4)
    rep.e2e("cycle_drift", median(secs.takeRight(q)) / median(secs.take(q)), "ratio")
    rep.e2e("store_mb", etl.storeBytes / MiB, "MiB")
    rep.note("cycle_s", cycles.map(c => s"[${Report.str(c.kind)},${c.seconds}]").mkString("[", ",", "]"))
    if (baseline != null) {
      val ref = baseline.get("reference_s_per_run")
      rep.note("baseline", s"""{"cycle_s":${kindS.sum / kindS.size},"cycle_p50_s":${median(secs)},""" +
        s""""reference_s_per_run":[${ref.get(0).asDouble()},${ref.get(1).asDouble()}],""" +
        s""""source":${Report.str(baseline.get("source").asText())}}""")
    }

    if (a.trace) {
      val traced = cycles.filter(_.traced)
      layers(rep, tr, etl.counts, traced.size, traced.map(_.seconds).sum,
        overheadFrac(cycles.map(c => (c.kind, c.seconds, c.traced)).toSeq),
        gcS / cycles.size, jitMs / cycles.size)
    }
  }

  /** Tracing cost: for each kind of unit (cycle kind or query), its traced
    * median over its untraced one; the median of those ratios, minus 1. */
  private def overheadFrac(units: Seq[(String, Double, Boolean)]): Double = {
    val ratios = units.groupBy(_._1).values.toSeq.flatMap { us =>
      val (t, u) = us.partition(_._3)
      if (t.isEmpty || u.isEmpty) None
      else Some(median(t.map(_._2)) / median(u.map(_._2)))
    }
    if (ratios.isEmpty) 0.0 else median(ratios) - 1
  }

  /** Spans of the reads served after a commit, not of the cycle itself. */
  val ServeSpans: Set[String] = Set("model.snapshot_open", "model.g1_point",
    "model.g2_label", "model.g3_degree", "model.g5_two_hop")
  /** Span-name prefixes of the library layers. */
  val Layers: Seq[String] = Seq("sources", "pipelines", "ops", "model", "ext")

  /** Every per-layer metric of a traced run, by one rule on every
    * workload: read from the spans, the listener, the filesystem counters
    * and `k`, per traced unit of work (an ETL cycle or a mix pass).
    * `units` is their number, `unitWall` their summed seconds. A layer the
    * workload never calls has no spans, jobs, bytes or counts, so its
    * metrics read 0; `info loads` names the layers each workload loads. */
  private def layers(rep: Report, tr: Tracer, k: EtlCounts, units: Double,
      unitWall: Double, overhead: Double, gcPerUnit: Double, jitPerUnit: Double): Unit = {
    val cnt = tr.counters
    val all = cnt.total(!ServeSpans(_)) // the unit's own jobs, not the reads
    def per(x: Double) = x / units
    def mean(name: String, scale: Double = 1.0) = {
      val n = tr.count(name); if (n == 0) 0.0 else tr.totalSeconds(name) * scale / n
    }
    def rate(num: Double, den: Double) = if (den == 0) 0.0 else num / den
    rep.layer("spark.jobs", per(all.jobs), "count")
    rep.layer("spark.stages", per(all.stages), "count")
    rep.layer("spark.tasks", per(all.tasks), "count")
    rep.layer("spark.idle_frac", 1 - all.taskMs / 1e3 / (unitWall * Cores), "ratio")
    rep.layer("spark.task_s", per(all.taskMs / 1e3), "s")
    rep.layer("spark.shuffle_write_mb", per(all.shuffleWrite / MiB), "MiB")
    rep.layer("spark.shuffle_read_mb", per(all.shuffleRead / MiB), "MiB")
    rep.layer("spark.spill_mb", per(all.spill / MiB), "MiB")
    rep.layer("spark.gc_s", per(all.gcMs / 1e3), "s")
    rep.layer("spark.task_skew", cnt.taskSkew, "ratio")
    val flowRuns = tr.count("pipelines.flow_graph").toDouble
    val topoRuns = tr.count("pipelines.topology").toDouble
    val deploys = tr.count("pipelines.declared_deps").toDouble
    rep.layer("pipelines.flow_graph_s", mean("pipelines.flow_graph"), "s")
    rep.layer("pipelines.flow_graph.rows_in", rate(k.flowRowsIn, flowRuns), "count")
    rep.layer("pipelines.flow_graph.rows_out", rate(k.flowRowsOut, flowRuns), "count")
    rep.layer("pipelines.topology_s", mean("pipelines.topology"), "s")
    rep.layer("pipelines.topology.rows_in", rate(k.topoRowsIn, topoRuns), "count")
    rep.layer("pipelines.topology.rows_out", rate(k.topoRowsOut, topoRuns), "count")
    rep.layer("pipelines.declared_deps_s", mean("pipelines.declared_deps"), "s")
    rep.layer("pipelines.declared_deps.rows_in", rate(k.depRowsIn, deploys), "count")
    rep.layer("pipelines.declared_deps.rows_out", rate(k.depRowsOut, deploys), "count")
    rep.layer("ops.merge_edges_s", mean("ops.merge_edges"), "s")
    rep.layer("ops.rollup_kept_ratio", rate(k.flowRowsOut, k.flowGroups), "ratio")
    rep.layer("ops.created", rate(k.created, topoRuns), "count")
    rep.layer("ops.matched", rate(k.matched, topoRuns), "count")
    rep.layer("ops.gc", rate(k.gcd, topoRuns), "count")
    rep.layer("ops.degraded", rate(k.degraded, topoRuns), "count")
    rep.layer("ops.refs_resolved_ratio", rate(k.depRowsOut, k.refsExtracted), "ratio")
    val fs = tr.fsBySpan
    def fsOf(names: Iterable[String]) = names.flatMap(fs.get).fold(FsStats.Zero)(_ + _)
    val written = per(fsOf(Seq("model.commit")).bytesWritten)
    rep.layer("model.commit_s", mean("model.commit"), "s")
    rep.layer("model.expire_s", mean("model.expire"), "s")
    rep.layer("model.files_written", per(k.filesWritten), "count")
    rep.layer("model.bytes_written", written, "B")
    rep.layer("model.write_amp", rate(written, k.storeBytes), "ratio")
    rep.layer("model.versions_live", k.versionsLive, "count")
    rep.layer("model.snapshot_open_ms", mean("model.snapshot_open", 1e3), "ms")
    rep.layer("model.serve_bytes_read", per(fsOf(ServeSpans).bytesRead), "B")
    rep.layer("model.g1_point_ms", mean("model.g1_point", 1e3), "ms")
    rep.layer("model.g2_label_ms", mean("model.g2_label", 1e3), "ms")
    rep.layer("model.g3_degree_ms", mean("model.g3_degree", 1e3), "ms")
    rep.layer("model.g5_two_hop_ms", mean("model.g5_two_hop", 1e3), "ms")
    rep.layer("sources.scan_s", mean("sources.scan"), "s")
    rep.layer("sources.bytes_read", per(fsOf(Seq("sources.scan")).bytesRead), "B")
    MixQueries.foreach { q =>
      rep.layer(s"ext.${q}_s", mean(s"ext.$q"), "s")
      rep.layer(s"ext.$q.jobs", rate(cnt.total(_ == s"ext.$q").jobs, tr.count(s"ext.$q")), "count")
    }
    rep.layer("jvm.gc_s", gcPerUnit, "s")
    rep.layer("jvm.jit_ms", jitPerUnit, "ms")
    rep.layer("trace.overhead_frac", overhead, "ratio")
    // self time per layer inside the unit, and the share no layer holds
    val self = tr.selfSeconds.filter { case (n, _) => !ServeSpans(n) }
    def layerOf(n: String) = n.takeWhile(_ != '.')
    Layers.foreach { l =>
      rep.layer(s"$l.self_s", per(self.collect { case (n, v) if layerOf(n) == l => v }.sum), "s")
    }
    val attributed = self.collect { case (n, v) if Layers.contains(layerOf(n)) => v }.sum
    rep.layer("trace.unattributed_frac", 1 - attributed / unitWall, "ratio")
  }

  /** Every query the mix can name; per-layer metrics exist for each. */
  val MixQueries: Seq[String] = Seq("q_components_adaptive", "q_triangles",
    "q_dedup_incr")

  def runMix(spark: SparkSession, tr: Tracer, rep: Report, a: Args, wl: JsonNode): Unit = {
    import scala.jdk.CollectionConverters._
    val qnode = wl.get("queries")
    val queries = qnode.fieldNames().asScala.toSeq
    require(queries.toSet == MixQueries.toSet, "workloads.json mix differs from MixQueries")
    val dataDir = s"${a.benchDir}/${wl.get("data").asText()}"
    rep.note("data_seed", wl.get("data_seed").asText())
    val tables = queries.flatMap(q => qnode.get(q).get("tables").elements().asScala.map(_.asText())).distinct
    val mix = new Mix(spark, tr, dataDir, s"${a.work}/mix_out", queries)
    val expected = mix.warmup() // also warms the JVM before the set-ups
    // set-up: open every table the mix reads and count its rows
    val tableRows = timedSetups(rep) { _ =>
      tables.map(t => t -> spark.read.parquet(s"$dataDir/$t.parquet").count()).toMap
    }
    def rowsOf(q: String): Long = qnode.get(q).get("tables").elements().asScala
      .map(t => tableRows(t.asText())).sum

    JvmStats.resetHeapPeak()
    val gc0 = JvmStats.gcMs(); val jit0 = JvmStats.jitMs()
    // closed loop over the mix, query by query, until the time is up; a
    // traced run alternates tracing per execution, so each query is timed
    // traced in one pass and untraced in the next
    val execs = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    val minExecs = queries.size * (if (a.trace) 2 else 1)
    val w0 = System.nanoTime()
    while (execs.size < minExecs || (System.nanoTime() - w0) / 1e9 < a.seconds) {
      val i = execs.size
      tr.on = a.trace && (i % queries.size + i / queries.size) % 2 == 0
      tr.cycle = i
      val q = queries(i % queries.size)
      execs += failing(rep, q)(mix.run(rep, expected, q)).fold((q, Double.NaN, tr.on)) {
        case (_, s) => (q, s, tr.on)
      }
      tr.on = false
    }
    val done = execs.filterNot(_._2.isNaN)
    require(queries.forall(q => done.exists(_._1 == q)),
      s"a mix query never completed: ${rep.errors.mkString("; ")}")
    val wall = (System.nanoTime() - w0) / 1e9
    val heap = JvmStats.heapPeakMb()
    val gcS = (JvmStats.gcMs() - gc0) / 1e3; val jitMs = (JvmStats.jitMs() - jit0).toDouble
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val passes = execs.grouped(queries.size)
      .filter(p => p.size == queries.size && !p.exists(_._2.isNaN)).toSeq
    val passS = passes.map(_.map(_._2).sum)
    val perQuery = queries.map(q => q -> median(done.filter(_._1 == q).map(_._2).toSeq)).toMap
    val execMs = done.map(_._2 * 1e3).toSeq
    val mixS = perQuery.values.sum
    rep.e2e("cycle_s", mixS, "s")
    rep.e2e("rows_per_s", queries.map(rowsOf).sum / mixS, "1/s")
    rep.e2e("cycle_p50_s", median(passS), "s")
    tailMetric(rep, "cycle_tail_s", passS, "s")
    rep.e2e("serve_ms", Stats.geomean(perQuery.values.toSeq) * 1e3, "ms")
    rep.e2e("serve_p50_ms", median(execMs), "ms")
    tailMetric(rep, "serve_tail_ms", execMs, "ms")
    rep.e2e("heap_peak_mb", heap, "MiB")
    rep.e2e("wall_s", wall, "s")
    rep.e2e("mix_s", mixS, "s")
    rep.e2e("mix_geomean_s", Stats.geomean(perQuery.values.toSeq), "s")
    rep.note("executions", execs.size.toString)
    rep.note("per_query_s", queries.map(q => s"${Report.str(q)}:${perQuery(q)}").mkString("{", ",", "}"))

    if (a.trace) {
      val traced = done.filter(_._3)
      layers(rep, tr, new EtlCounts, traced.size.toDouble / queries.size,
        traced.map(_._2).sum, overheadFrac(done.toSeq),
        gcS * queries.size / execs.size, jitMs * queries.size / execs.size)
    }
  }
}
