package perfbench

/** Checks of the seeded event generator, run by `perfbench/test_perfbench.py`.
  * Exits 1 with the failed checks listed, 0 when all hold.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    // the Hierarchy.edges shape: k -> k/2, and k -> k/3 for multiples of 7
    val edges = (1L to 2000L).map(k => (k, k / 2)) ++
      (7L to 2000L by 7L).map(k => (k, k / 3))
    val a = EventGen.plan(edges, 1, 10)
    val failures = Seq(
      "same seed, same batches" -> (a == EventGen.plan(edges, 1, 10)),
      "input order does not matter" -> (a == EventGen.plan(edges.reverse, 1, 10)),
      "different seed, different held-out edges" ->
        (adds(a) != adds(EventGen.plan(edges, 2, 10))),
      "different seed, different deleted edges" ->
        (deletes(a) != deletes(EventGen.plan(edges, 2, 10))),
      "about 10% held out" -> (math.abs(adds(a).size - edges.size / 10) <= 1),
      "every batch deletes 0.3% of the live edges" -> a.batches.indices.forall { b =>
        val live = EventGen.liveAfter(a, b).size
        a.batches(b).count(_.op == "delete") == math.max(1, math.round(live * 0.003))
      },
      "every edge once in the initial load or the adds" ->
        ((a.initial.map(e => (e.child, e.parent)) ++ adds(a)).toSet == edges.toSet),
      "live set keeps both parents of a node" -> {
        val live = EventGen.liveAfter(a, 0)
        live.size == a.initial.size
      },
      "deleted edges leave the live set" -> {
        val live = EventGen.liveAfter(a, a.batches.size)
        deletes(a).forall(e => !live(e)) && (adds(a) -- deletes(a)).forall(live)
      },
      "closure keeps the shortest depth through a diamond" ->
        (EventGen.closure(Seq((4L, 2L), (2L, 1L), (4L, 3L), (3L, 1L), (1L, 0L))) ==
          Set((2L, 4L, 1), (3L, 4L, 1), (1L, 4L, 2), (0L, 4L, 3), (1L, 2L, 1),
            (0L, 2L, 2), (1L, 3L, 1), (0L, 3L, 2), (0L, 1L, 1))),
      "latest event per edge wins" -> EventGen.latest(a, a.batches.size).forall {
        case (k, e) => deletes(a)(k) == (e.op == "delete")
      }
    ).collect { case (name, false) => name }
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"FAILED: $f"))
      sys.exit(1)
    }
    println("event generator: all checks hold")
  }

  private def adds(p: EtlPlan): Set[(Long, Long)] =
    p.batches.flatten.filter(_.op == "add").map(e => (e.child, e.parent)).toSet

  private def deletes(p: EtlPlan): Set[(Long, Long)] =
    p.batches.flatten.filter(_.op == "delete").map(e => (e.child, e.parent)).toSet
}
