package perfbench

import scala.collection.mutable

/** One edge of the store; identity is (src_label, src_name, edge_label,
  * dst_label, dst_name). */
final case class EdgeRow(src_label: String, src_name: String,
    edge_label: String, dst_label: String, dst_name: String,
    calls: Option[Long], avg_value: Option[Double], err_count: Option[Long],
    p99_value: Option[Double], declared_in: Option[String],
    stack_name: Option[String], last_seen: Long) {
  def key: (String, String, String, String, String) =
    (src_label, src_name, edge_label, dst_label, dst_name)
}

/** One vertex of the store; identity is (label, name). */
final case class VertexRow(label: String, name: String,
    health_status: String, last_updated: Long, first_seen: Long) {
  def key: (String, String) = (label, name)
}

/** Plain-Scala reference model of one ETL cycle, written from the
  * reference's semantics (SURVEY.md §3) and not from the engine's code:
  * flow rollup, edge merge, topology merge + alarm health + ghost GC, and
  * declared-dependency resolution. The benchmark checks every committed
  * snapshot against it. */
object Model {
  type EKey = (String, String, String, String, String)

  /** Spark/DuckDB `round(x, 4)`: HALF_UP on the exact decimal value. */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact interpolating percentile (Spark `percentile`, DuckDB
    * `quantile_cont`). */
  def percentile(sorted: IndexedSeq[Double], q: Double): Double = {
    val pos = (sorted.size - 1) * q
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) sorted(lo)
    else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
  }

  /** The deepflow rollup over the rows visible in the window: group by
    * (src key, dst), keep calls >= 2, top 100 by calls (ties by key), then
    * resolve the src key against the service dimension (unknown keys are
    * dropped after the cap, as the reference's post-query lookup does). */
  def rollup(rows: Iterable[Flow], startMs: Long, endMs: Long,
      dim: Map[Int, String], stamp: Long, topK: Int = 100): Seq[EdgeRow] = {
    val groups = rows.filter(f => f.ts_ms >= startMs && f.ts_ms < endMs)
      .groupBy(f => (f.src_key, f.dst_service))
    groups.toSeq
      .filter(_._2.size >= 2)
      .sortBy { case ((s, d), fs) => (-fs.size, s, d) }
      .take(topK)
      .flatMap { case ((s, d), fs) =>
        dim.get(s).map { name =>
          val n = fs.size
          val cents = fs.iterator.map(f => math.round(f.response_ms * 100)).sum
          val avg = BigDecimal(cents, 2).toDouble / n
          val errs = fs.count(_.status >= 500).toLong
          val p99 = round4(percentile(fs.map(_.response_ms).toIndexedSeq.sorted, 0.99))
          EdgeRow("Microservice", name, "Calls", "Microservice", d,
            Some(n.toLong), Some(avg), Some(errs), Some(p99), None, None, stamp)
        }
      }
  }

  /** Number of (src, dst) groups the rollup sees before the cap. */
  def rollupGroups(rows: Iterable[Flow], startMs: Long, endMs: Long): Int =
    rows.filter(f => f.ts_ms >= startMs && f.ts_ms < endMs)
      .map(f => (f.src_key, f.dst_service)).toSet.size

  /** Idempotent upsert: an incoming NULL property preserves the stored one. */
  def mergeEdges(store: mutable.Map[EKey, EdgeRow], batch: Seq[EdgeRow]): Unit =
    batch.foreach { in =>
      store.get(in.key) match {
        case None => store(in.key) = in
        case Some(ex) =>
          store(in.key) = EdgeRow(in.src_label, in.src_name, in.edge_label,
            in.dst_label, in.dst_name,
            in.calls.orElse(ex.calls), in.avg_value.orElse(ex.avg_value),
            in.err_count.orElse(ex.err_count), in.p99_value.orElse(ex.p99_value),
            in.declared_in.orElse(ex.declared_in),
            in.stack_name.orElse(ex.stack_name), in.last_seen)
      }
    }

  /** Topology run: the live scan becomes the vertex set (absent keys are
    * ghost-collected), every live vertex is healthy unless alarming, gets
    * this run's stamp, and keeps its first-seen stamp if it existed. */
  def topology(store: Map[(String, String), VertexRow],
      live: Seq[(String, String)], alarms: Seq[(String, String)],
      stamp: Long): Map[(String, String), VertexRow] = {
    val alarming = alarms.toSet
    live.distinct.map { k =>
      val first = store.get(k).map(_.first_seen).getOrElse(stamp)
      k -> VertexRow(k._1, k._2,
        if (alarming(k)) "degraded" else "healthy", stamp, first)
    }.toMap
  }

  /** Topology run report: (created, matched, gc'd, degraded). */
  def topologyCounts(store: Map[(String, String), VertexRow],
      next: Map[(String, String), VertexRow]): (Long, Long, Long, Long) = (
    next.keys.count(k => !store.contains(k)).toLong,
    next.keys.count(store.contains).toLong,
    store.keys.count(k => !next.contains(k)).toLong,
    next.values.count(_.health_status == "degraded").toLong)

  /** Declared deps of one deploy: every ref that names a logical id of the
    * deploy resolves to a physical-id edge; the rest are dropped. */
  def declaredDeps(templates: Seq[Template], phys: Seq[(String, String)],
      stamp: Long): Seq[EdgeRow] = {
    val pm = phys.toMap
    templates.flatMap { t =>
      for {
        src <- pm.get(t.logical).toSeq
        r <- t.refs
        dst <- pm.get(r).toSeq
      } yield EdgeRow("CfnResource", src, "DependsOn", "CfnResource", dst,
        None, None, None, None, Some("cfn"), Some(t.stack), stamp)
    }.distinct
  }

  // ── G-queries over the model's store ───────────────────────────────
  def pointLookup(v: Iterable[VertexRow], label: String, name: String): Set[VertexRow] =
    v.filter(r => r.label == label && r.name == name).toSet

  def labelScan(v: Iterable[VertexRow], label: String): Set[(String, String)] =
    v.filter(_.label == label).map(r => (r.name, r.health_status)).toSet

  /** (name, out_degree, in_degree, is_entry_point) per vertex of `label`,
    * counting edges with either endpoint of that label, matched by name. */
  def degrees(v: Iterable[VertexRow], e: Iterable[EdgeRow],
      label: String): Set[(String, Long, Long, Boolean)] = {
    val le = e.filter(r => r.src_label == label || r.dst_label == label)
    val out = le.groupBy(_.src_name).map { case (k, g) => k -> g.size.toLong }
    val in = le.groupBy(_.dst_name).map { case (k, g) => k -> g.size.toLong }
    v.filter(_.label == label).map { r =>
      val o = out.getOrElse(r.name, 0L); val i = in.getOrElse(r.name, 0L)
      (r.name, o, i, i == 0L)
    }.toSet
  }

  /** Two-hop paths a -[l1]-> m -[l2]-> c anchored on source `anchor`. */
  def twoHop(e: Iterable[EdgeRow], anchor: String, l1: String,
      l2: String): Set[(String, String, String)] = {
    val first = e.filter(r => r.edge_label == l1 && r.src_name == anchor)
    val second = e.filter(_.edge_label == l2).groupBy(r => (r.src_label, r.src_name))
    first.flatMap { a =>
      second.getOrElse((a.dst_label, a.dst_name), Nil)
        .map(b => (a.src_name, a.dst_name, b.dst_name))
    }.toSet
  }
}
