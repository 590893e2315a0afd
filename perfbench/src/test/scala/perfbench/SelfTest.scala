package perfbench

import scala.collection.mutable

/** The benchmark's own tests. Run with `python3 perfbench/run.py --self-test`
  * (args: checkout root, scratch dir); exits non-zero on any failure. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch {
      case e: Throwable =>
        failures += name
        println(s"FAIL $name: $e")
    }

  private def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new AssertionError(msg)

  /** A few services and rows: every cycle kind shows up within six cycles. */
  val Tiny: EtlParams = EtlParams(services = 8, unresolvedSrcShare = 0.1,
    zipfS = 0.8, rowsPerMinute = 40, lookbackMin = 6,
    stepMin = 5, lateShare = 0.2, errShare = 0.1, resources = 60,
    churnShare = 0.1, alarmShare = 0.05, topologyEvery = 3, stacks = 3,
    deployEvery = 2, stackResources = 5, nestDepth = 2,
    danglingRefShare = 0.3, keepLast = 2, warmupCycles = 0)

  def main(args: Array[String]): Unit = {
    val root = args(0)
    val work = args(1)

    test("generator is deterministic per seed") {
      val a = new Gen(7, Tiny); val b = new Gen(7, Tiny)
      (0 to 6).foreach(c => check(a.input(c) == b.input(c), s"cycle $c differs"))
      check(a.history == b.history, "set-up inputs differ")
    }

    test("generator differs across seeds") {
      val a = new Gen(7, Tiny); val b = new Gen(8, Tiny)
      check((1 to 6).forall(c => a.input(c).arrivals != b.input(c).arrivals),
        "two seeds gave the same flow rows")
      check(a.alarms(1) != b.alarms(1), "two seeds gave the same alarms")
    }

    test("tail rule picks the highest percentile with 10 samples beyond it") {
      val cases = Seq(1 -> 50.0, 10 -> 50.0, 19 -> 50.0, 20 -> 50.0, 39 -> 50.0,
        40 -> 75.0, 99 -> 75.0, 100 -> 90.0, 199 -> 90.0, 200 -> 95.0,
        999 -> 95.0, 1000 -> 99.0, 9999 -> 99.0, 10000 -> 99.9)
      cases.foreach { case (n, p) =>
        check(Stats.tailPercentile(n) == p, s"n=$n: got ${Stats.tailPercentile(n)}, want $p")
      }
      val xs = (1 to 100).map(_.toDouble)
      check(Stats.tail(xs) == (90.0, Stats.pct(xs, 90.0)), "tail value is not the p90")
    }

    test("reference rollup matches hand-computed metrics") {
      val t = 1000L
      val rows = Seq(10.0, 20.0, 30.0, 40.0).zipWithIndex.map { case (v, i) =>
        Flow(0, t + i, 1, "svc-b", v, if (i == 0) 500 else 200)
      } :+ Flow(0, t, 2, "svc-b", 5.0, 200) // a single call: below calls >= 2
      val out = Model.rollup(rows, 0, 2000, Map(1 -> "svc-a", 2 -> "svc-c"), 9L)
      check(out.size == 1, s"expected one edge, got $out")
      val e = out.head
      check(e.calls.contains(4L) && e.err_count.contains(1L) && e.avg_value.contains(25.0),
        s"calls/errors/avg wrong: $e")
      // position 0.99 * 3 = 2.97 between 30 and 40
      check(e.p99_value.contains(39.7), s"p99 wrong: ${e.p99_value}")
    }

    test("benchmark session confs equal graft.Bench's") {
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "src/main/scala/graft/Bench.scala")), "UTF-8")
      val cpus = 3
      val ConfRe = """\.config\("([^"]+)",\s*("([^"]*)"|\w+)\)""".r
      val benchConfs = ConfRe.findAllMatchIn(src).map { m =>
        m.group(1) -> Option(m.group(3)).getOrElse {
          check(m.group(2) == "cpus", s"unexpected conf value ${m.group(2)}")
          cpus.toString
        }
      }.toMap
      check(benchConfs.nonEmpty, "no confs parsed from Bench.scala")
      check(benchConfs == BenchSession.benchConfs(cpus).toMap,
        s"Bench: $benchConfs, benchmark: ${BenchSession.benchConfs(cpus)}")
      check(src.contains(".master(s\"local[$cpus]\")"), "Bench's master shape changed")
      check(src.contains(".withExtensions(new graft.functions.GraftExtensions)"),
        "Bench no longer installs GraftExtensions")
      check(BenchSession.placementConfs(work).map(_._1).toSet ==
        Set("spark.local.dir", "spark.sql.warehouse.dir"),
        "the benchmark adds confs beyond placement")
    }

    val spark = BenchSession.create(2, work)
    try {
      test("live session carries Bench's confs and extensions") {
        BenchSession.benchConfs(2).foreach { case (k, v) =>
          check(spark.conf.get(k) == v, s"$k = ${spark.conf.get(k)}, want $v")
        }
        check(spark.sparkContext.master == BenchSession.master(2), "master differs")
        // a GraftExtensions function resolves only when the extension is in
        check(spark.sql("SELECT nfc_normalize('a') AS s").head().getString(0) == "a",
          "GraftExtensions functions are not registered")
      }

      test("reference model agrees with the pipeline on a tiny seed") {
        val counters = new SparkCounters
        val tr = new Tracer(spark.sparkContext, counters)
        val gen = new Gen(3, Tiny)
        val etl = new Etl(spark, tr, gen, s"$work/etl-selftest")
        etl.setup()
        val rep = new Report
        val kinds = (1 to 6).map(c => etl.cycle(c, rep, audit = c % 3 == 0).kind).toSet
        check(kinds == Set("plain", "deploy", "topology", "topology+deploy"),
          s"cycle kinds covered: $kinds")
        check(rep.attempted >= 6 * 6, s"only ${rep.attempted} checks ran")
        check(rep.failed == 0, s"${rep.failed} mismatches: ${rep.errors.mkString("; ")}")
      }

      test("the snapshot check catches a wrong edge") {
        val e = EdgeRow("Microservice", "a", "Calls", "Microservice", "b",
          Some(3L), Some(1.5), Some(0L), Some(2.0), None, None, 1L)
        check(Etl.sameEdge(e, e), "an edge differs from itself")
        check(!Etl.sameEdge(e, e.copy(p99_value = Some(2.0001))), "p99 drift not caught")
        check(!Etl.sameEdge(e, e.copy(calls = Some(4L))), "calls drift not caught")
        check(!Etl.sameEdge(e, e.copy(stack_name = Some("s"))), "stack drift not caught")
      }
    } finally spark.stop()

    println(if (failures.isEmpty) "ALL PASS" else s"${failures.size} FAILED: ${failures.mkString(", ")}")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
