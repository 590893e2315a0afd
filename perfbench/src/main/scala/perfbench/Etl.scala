package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{GraphStorage, GraphStore}
import graft.pipelines.Pipelines
import graft.sources.CorpusLayout

/** The paper's scheduled ETL cycle, driven through the library's public
  * functions only:
  *
  *  1. read the flow slice (`CorpusLayout.readSlice`);
  *  2. `Pipelines.flowGraph`, then `GraphStore.mergeEdges` (MergeUpsert)
  *     into the edge store;
  *  3. `Pipelines.topology` (merge + alarm health + AntiJoinGC) on
  *     topology cycles;
  *  4. `Pipelines.declaredDeps` when a stack deploys;
  *  5. `GraphStorage.commitSnapshot` + `expireSnapshots`;
  *  6. G-queries served from `GraphStorage.readSnapshot`.
  *
  * Untraced cycles run the plain composition: every stage stays lazy
  * until the commit writes it. Traced cycles put a barrier
  * (`Tracer.barrier`) at each stage boundary, so a span around a stage
  * holds that stage's jobs; the windowed flow slice is materialized inside
  * `sources.scan`, so the scan and its bytes count there. The upstream's
  * work (appending flow rows to the log, aging out old buckets) and the
  * correctness check run between cycles and are not timed.
  */
final class Etl(spark: SparkSession, tr: Tracer, gen: Gen, root: String) {
  import Etl._
  private val p = gen.p
  private val flowRoot = s"$root/flows"
  private val vRoot = s"$root/vertices"
  private val eRoot = s"$root/edges"

  // reference-model state
  private val mEdges = mutable.Map.empty[Model.EKey, EdgeRow]
  private var mVerts = Map.empty[(String, String), VertexRow]
  private val mFlows = mutable.ArrayBuffer.empty[Flow]
  private val dimMap = gen.serviceDim.toMap

  private lazy val dimDf: DataFrame = {
    import spark.implicits._
    gen.serviceDim.toDF("service_key", "service_name")
  }

  private def writeFlows(rows: Seq[Flow]): Unit = {
    import spark.implicits._
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      rows.size / 20000 + 1))
    spark.sparkContext.parallelize(rows, parts).toDF()
      .write.mode("append").partitionBy("bucket").parquet(flowRoot)
  }

  private def edgesDf(rows: Seq[EdgeRow]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(edgeToRow),
      math.max(1, rows.size / 20000 + 1)), EdgeSchema)

  private def verticesDf(rows: Seq[VertexRow]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(v =>
      Row(v.label, v.name, v.health_status, v.last_updated, v.first_seen)),
      math.max(1, rows.size / 20000 + 1)), VertexSchema)

  private def keysDf(keys: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    keys.toDF("label", "name")
  }

  /** Fresh starting store: flow history for the first window, the
    * run-0 topology as vertex snapshot v0 and an empty edge snapshot v0
    * that the cycles fill. */
  def setup(): Unit = {
    deleteTree(root)
    writeFlows(gen.history)
    val verts = Model.topology(Map.empty, gen.snapshot(0), Nil, 0L)
    GraphStorage.commitSnapshot(verticesDf(verts.values.toSeq), vRoot)
    GraphStorage.commitSnapshot(edgesDf(Nil), eRoot)
    mVerts = verts
    mEdges.clear()
    mFlows.clear(); mFlows ++= gen.history
  }

  /** `kind` names the stages the cycle ran beyond the flow rollup. */
  final case class Cycle(kind: String, seconds: Double, serveMs: Seq[Double],
      rows: Long, traced: Boolean)

  /** Upstream arrivals for `c`: append to the log, age out old buckets. */
  private def ingest(in: CycleInput): Unit = {
    writeFlows(in.arrivals)
    mFlows ++= in.arrivals
  }

  private def ageOut(in: CycleInput): Unit = {
    val nextStart = in.windowStartMs + gen.StepMs
    val keepFrom = nextStart / gen.StepMs
    val fsys = new org.apache.hadoop.fs.Path(flowRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.listStatus(new org.apache.hadoop.fs.Path(flowRoot))
      .map(_.getPath).filter(_.getName.startsWith("bucket="))
      .filter(_.getName.stripPrefix("bucket=").toLong < keepFrom)
      .foreach(fsys.delete(_, true))
    mFlows.filterInPlace(_.ts_ms >= nextStart)
  }

  /** One cycle: timed stages, then the serve reads, then (untimed) the
    * check against the model. */
  def cycle(c: Int, rep: Report, audit: Boolean): Cycle = {
    val in = gen.input(c)
    ingest(in)
    tr.cycle = c
    val b0 = in.windowStartMs / gen.StepMs
    val b1 = (in.windowEndMs - 1) / gen.StepMs
    val priorV = GraphStorage.latestVersion(spark, vRoot)

    val window = col("bucket").between(b0, b1) && col("ts_ms") >= in.windowStartMs &&
      col("ts_ms") < in.windowEndMs

    val t0 = System.nanoTime()
    val newV = tr.span("etl.cycle") {
      val flows = tr.span("sources.scan") {
        val log = CorpusLayout.readSlice(spark, flowRoot)
        if (tr.on) tr.barrier(log.filter(window)) else log
      }
      val batch = tr.span("pipelines.flow_graph") {
        tr.barrier(Pipelines.flowGraph(flows, dimDf, "src_key", "dst_service",
          "response_ms", window, col("status") >= 500))
      }
      val callEdges = batch.select(lit("Microservice").as("src_label"),
        col("src_service").as("src_name"), lit("Calls").as("edge_label"),
        lit("Microservice").as("dst_label"), col("dst_service").as("dst_name"),
        col("calls"), col("avg_value"), col("err_count"), col("p99_value"),
        lit(null).cast("string").as("declared_in"),
        lit(null).cast("string").as("stack_name"), lit(in.stamp).as("last_seen"))
      val depEdges = in.deploy.map { case (tpls, phys) =>
        tr.span("pipelines.declared_deps") {
          import spark.implicits._
          val tdf = tpls.map(t => (t.stack, t.logical, t.json))
            .toDF("stack_name", "src_logical", "template_json")
          tr.barrier(Pipelines.declaredDeps(tdf, phys.toDF("logical_id", "physical_id"))
            .select(lit("CfnResource").as("src_label"), col("src").as("src_name"),
              col("edge_label"), lit("CfnResource").as("dst_label"),
              col("dst").as("dst_name"), lit(null).cast("long").as("calls"),
              lit(null).cast("double").as("avg_value"),
              lit(null).cast("long").as("err_count"),
              lit(null).cast("double").as("p99_value"), col("declared_in"),
              col("stack_name"), lit(in.stamp).as("last_seen")))
        }
      }
      val newV = in.topology.map { case (snap, alarms) =>
        tr.span("pipelines.topology") {
          val store = tr.span("model.open_store") { GraphStorage.readSnapshot(spark, vRoot) }
          tr.barrier(Pipelines.topology(store, keysDf(snap), keysDf(alarms), in.stamp))
        }
      }
      val merged = tr.span("ops.merge_edges") {
        val store = tr.span("model.open_store") { GraphStorage.readSnapshot(spark, eRoot) }
        val batchAll = depEdges.fold(callEdges)(callEdges.unionByName(_))
        tr.barrier(GraphStore.mergeEdges(store, batchAll, EdgeProps))
      }
      tr.span("model.commit") {
        GraphStorage.commitSnapshot(merged, eRoot)
        newV.foreach(GraphStorage.commitSnapshot(_, vRoot))
      }
      tr.span("model.expire") {
        GraphStorage.expireSnapshots(spark, eRoot, p.keepLast)
        if (newV.nonEmpty) GraphStorage.expireSnapshots(spark, vRoot, p.keepLast)
      }
      newV
    }
    val seconds = (System.nanoTime() - t0) / 1e9

    // reference model for the same inputs
    val windowRows = mFlows.count(f => f.ts_ms >= in.windowStartMs && f.ts_ms < in.windowEndMs)
    val rolled = Model.rollup(mFlows, in.windowStartMs, in.windowEndMs, dimMap, in.stamp)
    val deps = in.deploy.map { case (t, ph) => Model.declaredDeps(t, ph, in.stamp) }
    val priorVerts = mVerts
    in.topology.foreach { case (snap, alarms) =>
      mVerts = Model.topology(mVerts, snap, alarms, in.stamp)
    }
    Model.mergeEdges(mEdges, rolled ++ deps.getOrElse(Nil))
    ageOut(in)

    // serve: G-queries against the snapshots just committed
    val anchor = gen.hotService
    val (vs, es) = tr.span("model.snapshot_open") {
      (GraphStorage.readSnapshot(spark, vRoot), GraphStorage.readSnapshot(spark, eRoot))
    }
    def timed[T](name: String)(f: => T): (T, Double) = {
      val s0 = System.nanoTime()
      val r = tr.span(name)(f)
      (r, (System.nanoTime() - s0) / 1e6)
    }
    val (g1, g1ms) = timed("model.g1_point") {
      GraphStore.pointLookup(vs, "Microservice", anchor).collect()
    }
    val (g2, g2ms) = timed("model.g2_label") {
      GraphStore.labelScan(vs, "RDSCluster", "name", "health_status").collect()
    }
    val (g3, g3ms) = timed("model.g3_degree") {
      GraphStore.degrees(vs, es, "Microservice").collect()
    }
    val (g5, g5ms) = timed("model.g5_two_hop") {
      GraphStore.twoHop(broadcast(es.filter(col("src_name") === anchor)), es,
        "Calls", "Calls").collect()
    }

    // untimed check: committed snapshots and every read against the model
    val gotV = vs.collect().map(rowToVertex).toSeq
    val gotE = es.collect().map(rowToEdge).toSeq
    def distinctKeys[K](ks: Seq[K]) = ks.distinct.size == ks.size
    rep.check(gotV.size == mVerts.size && distinctKeys(gotV.map(_.key)) &&
      gotV.forall(v => mVerts.get(v.key).contains(v)),
      s"cycle $c: vertex snapshot differs from the model (${gotV.size} vs ${mVerts.size})")
    rep.check(gotE.size == mEdges.size && distinctKeys(gotE.map(_.key)) &&
      gotE.forall(e => mEdges.get(e.key).exists(sameEdge(_, e))),
      s"cycle $c: edge snapshot differs from the model (${gotE.size} vs ${mEdges.size})" +
        gotE.find(e => !mEdges.get(e.key).exists(sameEdge(_, e))).map(e =>
          s"; got $e, model ${mEdges.get(e.key)}").getOrElse(""))
    val mv = mVerts.values
    rep.check(g1.map(rowToVertex).toSet == Model.pointLookup(mv, "Microservice", anchor),
      s"cycle $c: G1 point lookup differs")
    rep.check(g2.map(r => (r.getString(0), r.getString(1))).toSet ==
      Model.labelScan(mv, "RDSCluster") && g2.length == Model.labelScan(mv, "RDSCluster").size,
      s"cycle $c: G2 label scan differs")
    rep.check(g3.map(r => (r.getAs[String]("node_id"), r.getAs[Long]("out_degree"),
      r.getAs[Long]("in_degree"), r.getAs[Boolean]("is_entry_point"))).toSet ==
      Model.degrees(mv, mEdges.values, "Microservice"), s"cycle $c: G3 degrees differ")
    rep.check(g5.map(r => (r.getAs[String]("a_name"), r.getAs[String]("m_name"),
      r.getAs[String]("c_name"))).toSet == Model.twoHop(mEdges.values, anchor, "Calls", "Calls"),
      s"cycle $c: G5 two-hop differs")

    if (audit) {
      // per-layer counts of the traced run; the topology report re-runs
      // the topology plan (the library's audit query), so it is untimed
      val k = counts
      k.flowRowsIn += windowRows
      k.flowGroups += Model.rollupGroups(mFlows, in.windowStartMs, in.windowEndMs)
      k.flowRowsOut += rolled.size
      in.deploy.foreach { case (t, _) =>
        k.depRowsIn += t.size
        k.refsExtracted += t.map(_.refs.size).sum
        k.depRowsOut += deps.get.size
      }
      in.topology.foreach { case (snap, alarms) =>
        k.topoRowsIn += priorVerts.size + snap.size
        k.topoRowsOut += mVerts.size
        val prior = GraphStorage.readSnapshot(spark, vRoot, priorV)
        val st = Pipelines.topologyStats(prior, keysDf(snap), keysDf(alarms), in.stamp)
          .collect().head
        val (cr, ma, gc, dg) = Model.topologyCounts(priorVerts, mVerts)
        rep.check(st.getAs[Long]("n_created") == cr && st.getAs[Long]("n_matched") == ma &&
          st.getAs[Long]("n_gc") == gc && st.getAs[Long]("n_degraded") == dg,
          s"cycle $c: topologyStats differs from the model")
        k.created += cr; k.matched += ma; k.gcd += gc; k.degraded += dg
      }
      k.filesWritten += newFiles(eRoot) + (if (newV.nonEmpty) newFiles(vRoot) else 0)
      k.versionsLive = GraphStorage.versions(spark, vRoot).size +
        GraphStorage.versions(spark, eRoot).size
      k.storeBytes = storeBytes
    }
    val kind = Seq(in.topology.map(_ => "topology"), in.deploy.map(_ => "deploy"))
      .flatten.mkString("+")
    Cycle(if (kind.isEmpty) "plain" else kind, seconds, Seq(g1ms, g2ms, g3ms, g5ms),
      windowRows.toLong + in.topology.map(_._1.size).getOrElse(0) +
        in.deploy.map(_._1.size).getOrElse(0), tr.on)
  }

  val counts = new EtlCounts

  private def newFiles(store: String): Long = {
    val v = GraphStorage.latestVersion(spark, store).get
    val path = new org.apache.hadoop.fs.Path(s"$store/v=$v")
    val fsys = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.listStatus(path).length.toLong
  }

  /** Bytes of the live store (both snapshot roots). */
  def storeBytes: Long = Seq(vRoot, eRoot).map(treeBytes).sum
}

/** Row, file and store counts of the traced ETL cycles, summed by their
  * untimed audit (`versionsLive` and `storeBytes` as of the last one). All
  * zero on a workload that runs no ETL cycle. */
final class EtlCounts {
  var flowRowsIn, flowRowsOut, flowGroups, topoRowsIn, topoRowsOut, depRowsIn,
    depRowsOut, refsExtracted, created, matched, gcd, degraded, filesWritten,
    versionsLive, storeBytes = 0L
}

object Etl {
  val EdgeProps: Seq[String] = Seq("calls", "avg_value", "err_count",
    "p99_value", "declared_in", "stack_name", "last_seen")

  val EdgeSchema: StructType = StructType(Seq(
    StructField("src_label", StringType), StructField("src_name", StringType),
    StructField("edge_label", StringType), StructField("dst_label", StringType),
    StructField("dst_name", StringType), StructField("calls", LongType),
    StructField("avg_value", DoubleType), StructField("err_count", LongType),
    StructField("p99_value", DoubleType), StructField("declared_in", StringType),
    StructField("stack_name", StringType), StructField("last_seen", LongType)))

  val VertexSchema: StructType = StructType(Seq(
    StructField("label", StringType), StructField("name", StringType),
    StructField("health_status", StringType), StructField("last_updated", LongType),
    StructField("first_seen", LongType)))

  def edgeToRow(e: EdgeRow): Row = Row(e.src_label, e.src_name, e.edge_label,
    e.dst_label, e.dst_name, e.calls.orNull, e.avg_value.orNull,
    e.err_count.orNull, e.p99_value.orNull, e.declared_in.orNull,
    e.stack_name.orNull, e.last_seen)

  private def opt[T](r: Row, f: String): Option[T] =
    if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getAs[T](f))

  def rowToEdge(r: Row): EdgeRow = EdgeRow(r.getAs[String]("src_label"),
    r.getAs[String]("src_name"), r.getAs[String]("edge_label"),
    r.getAs[String]("dst_label"), r.getAs[String]("dst_name"),
    opt[Long](r, "calls"), opt[Double](r, "avg_value"), opt[Long](r, "err_count"),
    opt[Double](r, "p99_value"), opt[String](r, "declared_in"),
    opt[String](r, "stack_name"), r.getAs[Long]("last_seen"))

  def rowToVertex(r: Row): VertexRow = VertexRow(r.getAs[String]("label"),
    r.getAs[String]("name"), r.getAs[String]("health_status"),
    r.getAs[Long]("last_updated"), r.getAs[Long]("first_seen"))

  private def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    case (None, None) => true
    case _ => false
  }

  /** Equal, with doubles compared to 1e-9 relative. */
  def sameEdge(m: EdgeRow, g: EdgeRow): Boolean =
    m.key == g.key && m.calls == g.calls && m.err_count == g.err_count &&
      close(m.avg_value, g.avg_value) && close(m.p99_value, g.p99_value) &&
      m.declared_in == g.declared_in && m.stack_name == g.stack_name &&
      m.last_seen == g.last_seen

  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => deleteTree(c.getPath))
    f.delete()
  }

  def treeBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(c => treeBytes(c.getPath)).sum
    else if (f.isFile) f.length() else 0L
  }
}
