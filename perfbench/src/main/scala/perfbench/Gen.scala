package perfbench

import scala.collection.mutable
import scala.util.Random

/** Traffic dimensions of one ETL workload, read from workloads.json. */
final case class EtlParams(
    services: Int, unresolvedSrcShare: Double, zipfS: Double,
    rowsPerMinute: Int, lookbackMin: Int, stepMin: Int,
    lateShare: Double, errShare: Double, resources: Int, churnShare: Double,
    alarmShare: Double, topologyEvery: Int, stacks: Int, deployEvery: Int,
    stackResources: Int, nestDepth: Int, danglingRefShare: Double,
    keepLast: Int, warmupCycles: Int)

object EtlParams {
  def fromJson(node: com.fasterxml.jackson.databind.JsonNode): EtlParams = {
    def d(k: String): Double = {
      val v = node.get(k)
      require(v != null && v.get("value") != null, s"workload param '$k' missing")
      v.get("value").asDouble()
    }
    def i(k: String): Int = d(k).toInt
    EtlParams(i("services"), d("unresolved_src_share"), d("zipf_s"),
      i("rows_per_minute"), i("lookback_min"), i("step_min"),
      d("late_share"), d("err_share"), i("resources"), d("churn_share"),
      d("alarm_share"), i("topology_every"), i("stacks"), i("deploy_every"),
      i("stack_resources"), i("nest_depth"), d("dangling_ref_share"),
      i("keep_last"), i("warmup_cycles"))
  }
}

/** One L7 flow row as the deepflow source stores it. `bucket` is the
  * step-sized event-time bucket the log is partitioned by. */
final case class Flow(bucket: Long, ts_ms: Long, src_key: Int,
    dst_service: String, response_ms: Double, status: Int)

/** One resource template of a stack deploy, plus the refs the generator
  * buried in it (the reference model resolves these without parsing). */
final case class Template(stack: String, logical: String, json: String,
    refs: Seq[String])

/** Everything one cycle ingests. `arrivals` are the flow rows appended to
  * the log just before the cycle; topology and deploy inputs are present
  * only on the cycles that run those pipelines. */
final case class CycleInput(
    cycle: Int, windowStartMs: Long, windowEndMs: Long, stamp: Long,
    arrivals: Seq[Flow],
    topology: Option[(Seq[(String, String)], Seq[(String, String)])],
    deploy: Option[(Seq[Template], Seq[(String, String)])])

/** Deterministic traffic generator: the same seed and params give the same
  * inputs, cycle by cycle, however long each cycle took. Every random draw
  * comes from a Random keyed by (seed, purpose, index), never from a shared
  * stream, so skipping or re-running a cycle cannot shift later draws. */
final class Gen(val seed: Long, val p: EtlParams) {
  private def rng(purpose: Int, idx: Long): Random =
    new Random(seed * 1000003L + purpose * 7919L + idx * 104729L)

  val MinuteMs = 60000L
  val StepMs: Long = p.stepMin * MinuteMs
  /** Event time of the first window's end; any fixed epoch works. */
  val Epoch = 1700000000000L - (1700000000000L % StepMs)

  val serviceNames: IndexedSeq[String] =
    (0 until p.services).map(i => f"svc-$i%04d")
  /** Flow source keys: 1..services resolve, the tail keys do not. */
  private val unresolvedKeys =
    math.max(1, math.round(p.services * p.unresolvedSrcShare).toInt)
  val serviceDim: Seq[(Int, String)] =
    serviceNames.zipWithIndex.map { case (n, i) => (i + 1, n) }
  /** The most popular service (Zipf rank 0), the G-queries' anchor. */
  val hotService: String = serviceNames(0)

  // Zipf over service ranks
  private val zipfCdf: Array[Double] = {
    val w = (1 to p.services).map(r => 1.0 / math.pow(r, p.zipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private def zipf(r: Random): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(p.services - 1, if (i >= 0) i else -i - 1)
  }

  /** The rows whose event time falls in `minute` (minutes since Epoch). */
  def minuteRows(minute: Long): Seq[Flow] = {
    val r = rng(1, minute)
    val t0 = Epoch + minute * MinuteMs
    (0 until p.rowsPerMinute).map { _ =>
      val src =
        if (r.nextDouble() < p.unresolvedSrcShare) p.services + 1 + r.nextInt(unresolvedKeys)
        else zipf(r) + 1
      var dst = zipf(r)
      if (dst == src - 1) dst = (dst + 1 + r.nextInt(p.services - 1)) % p.services
      val ts = t0 + r.nextInt(MinuteMs.toInt)
      // response times in whole hundredths, so decimal(18,2) sums are exact
      val ms = (200 + r.nextInt(400000)).toDouble / 100.0
      val status = if (r.nextDouble() < p.errShare) 500 + r.nextInt(4) else 200
      Flow(ts / StepMs, ts, src, serviceNames(dst), ms, status)
    }
  }

  /** Rows of `minute` that arrive late (one cycle after the rest). */
  def isLate(f: Flow): Boolean =
    (java.lang.Long.hashCode(f.ts_ms * 31 + f.src_key) & 0x7fffffff) % 10000 <
      (p.lateShare * 10000).toInt

  private def minutesOf(cycle: Int): Range = {
    val per = p.stepMin
    ((cycle - 1) * per until cycle * per)
  }

  /** Flow rows appended to the log right before `cycle` (1-based) runs:
    * on-time rows of the cycle's new minutes plus the late rows of the
    * previous cycle's minutes. Cycle 0 is the history the set-up writes. */
  def arrivals(cycle: Int): Seq[Flow] = {
    val fresh = minutesOf(cycle).flatMap(m => minuteRows(m.toLong)).filterNot(isLate)
    val late = if (cycle <= 0) Seq.empty
      else minutesOf(cycle - 1).flatMap(m => minuteRows(m.toLong)).filter(isLate)
    fresh ++ late
  }

  /** History for the first window's lookback: minutes before cycle 1,
    * all of it arrived (late rows included). */
  def history: Seq[Flow] = {
    val back = p.lookbackMin - p.stepMin
    (-back until 0).flatMap(m => minuteRows(m.toLong))
  }

  // ── resources: live set evolves run by run ────────────────────────
  val ResourceLabels: IndexedSeq[String] = IndexedSeq("EC2Instance",
    "LambdaFunction", "RDSCluster", "Subnet", "LoadBalancer", "SQSQueue",
    "DynamoDBTable", "ECSService")
  private def resourceKey(id: Int): (String, String) =
    (ResourceLabels(id % ResourceLabels.size), f"res-$id%07d")

  /** Live resource ids after `run` topology scans (run 0 = the starting
    * store). Deterministic per run; computed incrementally and cached. */
  private val liveByRun = mutable.ArrayBuffer[Vector[Int]](
    (0 until math.max(0, p.resources - p.services)).toVector)
  private def live(run: Int): Vector[Int] = {
    while (liveByRun.size <= run) {
      val k = liveByRun.size
      val prev = liveByRun.last
      val r = rng(2, k)
      val n = math.round(prev.size * p.churnShare).toInt
      val drop = r.shuffle(prev.indices.toVector).take(n).toSet
      val next = (if (prev.isEmpty) 0 else prev.max + 1)
      val nextIds = (next until next + n).toVector
      liveByRun += prev.zipWithIndex.collect { case (id, i) if !drop(i) => id } ++ nextIds
    }
    liveByRun(run)
  }

  /** Live (label, name) keys the topology scan of `run` reports; the
    * microservices are always live. */
  def snapshot(run: Int): Seq[(String, String)] =
    serviceNames.map(n => ("Microservice", n)) ++ live(run).map(resourceKey)

  /** Resources in ALARM at `run`: a share of the live set plus a couple of
    * alarms on keys that are gone (they must not resurrect anything). */
  def alarms(run: Int): Seq[(String, String)] = {
    val r = rng(3, run)
    val snap = snapshot(run).toVector
    val n = math.max(1, math.round(snap.size * p.alarmShare).toInt)
    val hit = r.shuffle(snap.indices.toVector).take(n).map(snap)
    hit ++ Seq(("EC2Instance", "res-gone-0"), ("RDSCluster", s"res-gone-$run"))
  }

  // ── CloudFormation stacks ──────────────────────────────────────────
  def stackName(k: Int): String = f"stack-$k%03d"
  def logicalId(k: Int, i: Int): String = f"S${k}R$i%03d"
  def physicalIds(k: Int): Seq[(String, String)] =
    (0 until p.stackResources).map(i =>
      (logicalId(k, i), s"${stackName(k)}-${logicalId(k, i).toLowerCase}"))

  /** The templates of one deploy of stack `k` (version `v`): each resource
    * references 1-3 others of its stack, buried `nestDepth` objects deep,
    * in the three reference forms (Ref, Fn::GetAtt, Fn::Sub), plus dangling
    * refs to parameters that resolve to no physical id. */
  def templates(k: Int, v: Int): Seq[Template] = {
    val r = rng(4, k * 100000L + v)
    (0 until p.stackResources).map { i =>
      val others = (0 until p.stackResources).filter(_ != i)
      val targets = r.shuffle(others.toVector).take(1 + r.nextInt(3))
        .map(logicalId(k, _))
      val dangling =
        if (r.nextDouble() < p.danglingRefShare) Seq(s"Param$k${r.nextInt(5)}") else Nil
      val refs = targets ++ dangling
      val leaves = refs.zipWithIndex.map { case (id, j) =>
        (j % 3) match {
          case 0 => s"""{"Ref":"$id"}"""
          case 1 => s"""{"Fn::GetAtt":["$id","Arn"]}"""
          case _ => s"""{"Fn::Sub":"arn:aws:svc:$${AWS::Region}:x:$${$id}/p"}"""
        }
      }
      // `${AWS::Region}` is a Sub pseudo-parameter ref too: dangling by
      // construction (no physical id), so the model counts it as a ref
      val subPseudo = refs.indices.exists(_ % 3 == 2)
      val body = leaves.mkString("[", ",", "]")
      val nested = (0 until p.nestDepth).foldLeft(body) { (acc, d) =>
        s"""{"Props$d":{"Name":"n$d","Items":$acc}}"""
      }
      val json = s"""{"Type":"AWS::Svc::R","Version":$v,"Properties":$nested}"""
      Template(stackName(k), logicalId(k, i), json,
        (refs ++ (if (subPseudo) Seq("AWS::Region") else Nil)).distinct.sorted)
    }
  }

  /** Which stack (and its deploy version) deploys before `cycle`, if any:
    * deploys land on a fixed cadence, one cycle after each topology run, so
    * every round of the cadence holds the same kinds of cycle; which stack
    * deploys is drawn from the seed. */
  def deployAt(cycle: Int): Option[(Int, Int)] =
    if (cycle % p.deployEvery == 1 % p.deployEvery)
      Some((rng(5, cycle).nextInt(p.stacks), cycle))
    else None

  def isTopologyCycle(cycle: Int): Boolean = cycle % p.topologyEvery == 0

  /** Topology run index at `cycle` (run 0 is the starting store). */
  def topologyRun(cycle: Int): Int = cycle / p.topologyEvery

  def input(cycle: Int): CycleInput = {
    val end = Epoch + cycle.toLong * StepMs
    val topo =
      if (isTopologyCycle(cycle)) {
        val run = topologyRun(cycle)
        Some((snapshot(run), alarms(run)))
      } else None
    val deploy = deployAt(cycle).map { case (k, v) =>
      (templates(k, v), physicalIds(k))
    }
    CycleInput(cycle, end - p.lookbackMin * MinuteMs, end, cycle.toLong,
      arrivals(cycle), topo, deploy)
  }
}
