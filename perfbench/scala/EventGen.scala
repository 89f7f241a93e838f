package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One edge event of the `etl-closure` source: `op` is "add" or "delete",
  * `seq` the edge's revision and `ts` the `modified_ts` watermark column.
  */
final case class EdgeEvent(child: Long, parent: Long, op: String, seq: Long, ts: Long)

/** The initial load and the delta batches a run replays. */
final case class EtlPlan(initial: Vector[EdgeEvent], batches: Vector[Vector[EdgeEvent]]) {
  def events: Vector[EdgeEvent] = initial ++ batches.flatten
}

/** Seeded event stream over a fixed edge set.
  *
  * The seed holds out `holdout` of the edges: they arrive later as add
  * events, spread evenly over `batches` batches. Every batch also deletes
  * `deleteRate` of the edges live at that moment (at least one). Batch `b`
  * (1-based) stamps its events `seq = b + 1` and `ts = 1000 + b`; the
  * initial load is `seq = 1`, `ts = 1000`. The same seed always gives the
  * same plan; the edge set's order does not matter.
  */
object EventGen {
  val BaseTs = 1000L

  def plan(edges: Seq[(Long, Long)], seed: Long, batches: Int,
      holdout: Double = 0.10, deleteRate: Double = 0.003): EtlPlan = {
    require(batches >= 1, "batches must be at least 1")
    val all = edges.distinct.sorted
    val rng = new SplittableRandom(seed)
    val order = shuffle(all, rng)
    val nHeld = math.round(all.length * holdout).toInt
    val held = order.take(nHeld)
    val live = mutable.ArrayBuffer.from(order.drop(nHeld).sorted)
    val initial = live.toVector.map { case (c, p) => EdgeEvent(c, p, "add", 1, BaseTs) }
    val perBatch = math.max(1, nHeld / batches)
    val out = Vector.newBuilder[Vector[EdgeEvent]]
    for (b <- 1 to batches) {
      val seq = b + 1L
      val ts = BaseTs + b
      val adds = held.slice((b - 1) * perBatch,
        if (b == batches) held.length else b * perBatch)
      val nDel = math.max(1, math.round(live.size * deleteRate).toInt)
      val dels = (0 until math.min(nDel, live.size)).map { _ =>
        val k = rng.nextInt(live.size)
        val e = live(k)
        live(k) = live(live.size - 1)
        live.remove(live.size - 1)
        e
      }
      live ++= adds
      out += (adds.map { case (c, p) => EdgeEvent(c, p, "add", seq, ts) } ++
        dels.sorted.map { case (c, p) => EdgeEvent(c, p, "delete", seq, ts) })
    }
    EtlPlan(initial, out.result())
  }

  /** Fisher-Yates shuffle driven by `rng`. */
  def shuffle[A](xs: Seq[A], rng: SplittableRandom): Vector[A] = {
    val a = mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  /** Edges alive after the initial load and the first `n` batches. */
  def liveAfter(plan: EtlPlan, n: Int): Set[(Long, Long)] =
    latest(plan, n).iterator.collect { case (k, e) if e.op == "add" => k }.toSet

  /** Latest event per edge (highest seq) over the initial load and the
    * first `n` batches: what a keyed latest-wins replica must hold.
    */
  def latest(plan: EtlPlan, n: Int): Map[(Long, Long), EdgeEvent] =
    (plan.initial ++ plan.batches.take(n).flatten)
      .groupBy(e => (e.child, e.parent))
      .map { case (k, es) => k -> es.maxBy(_.seq) }

  /** Transitive closure of (child, parent) edges with the shortest path
    * length as depth: one (ancestor, descendant, depth) per reachable pair.
    * A breadth-first walk up from every node, in memory — the
    * reference answer the `etl-closure` dests are checked against.
    */
  def closure(edges: Iterable[(Long, Long)]): Set[(Long, Long, Int)] = {
    val parents = edges.groupMap(_._1)(_._2)
    val out = Set.newBuilder[(Long, Long, Int)]
    for (node <- parents.keys) {
      val seen = mutable.Set(node)
      var frontier = Seq(node)
      var depth = 0
      while (frontier.nonEmpty) {
        depth += 1
        frontier = frontier.flatMap(parents.getOrElse(_, Nil)).distinct.filter(seen.add)
        frontier.foreach(a => out += ((a, node, depth)))
      }
    }
    out.result()
  }
}
