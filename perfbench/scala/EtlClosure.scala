package perfbench

import java.io.File
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import graft.operators.Hierarchy
import graft.sources.ParquetUpsertSink

/** `etl-closure`: MoDevETL's scheduled loop as `graft.Main` runs it.
  *
  * The edge graph is `Hierarchy.edges` over the data directory. Set-up
  * appends the initial events to two source directories (adds only, and
  * add/delete events) and loads them by running the three modes once, which
  * also compiles the code paths the batches take. Each timed batch then
  * appends its events and runs `closure`, `closure-deletes` and `replicate`
  * through `graft.Main.run`, each against its own dest and bookmark. The
  * end-of-run `vacuum` is timed apart, and the dests are checked against
  * answers recomputed in memory from the events.
  */
object EtlClosure {
  private val mapper = new ObjectMapper()
  val Modes = Seq("closure", "closure-deletes", "replicate")
  val Batches = 4

  final class Layout(root: String) {
    val adds = s"$root/src/adds"
    val events = s"$root/src/events"
    val closure = s"$root/closure"
    val deletesDest = s"$root/closure-deletes"
    val edgeState = s"$root/edge-state"
    val replica = s"$root/replica"
    val sinkDirs = Seq(closure, deletesDest, edgeState, replica)

    def config(mode: String): String = {
      val pairKey = """"keyCols":["ancestor","descendant"],"versionCol":"rev""""
      val edgeKey = """"keyCols":["child","parent"],"versionCol":"seq""""
      val body = mode match {
        case "closure" =>
          s""""source":{"type":"parquet","path":"$adds"},
             |"dest":{"type":"parquet","path":"$closure",$pairKey}""".stripMargin
        case "closure-deletes" =>
          s""""source":{"type":"parquet","path":"$events"},
             |"dest":{"type":"parquet","path":"$deletesDest",$pairKey},
             |"edgeStore":{"type":"parquet","path":"$edgeState",$edgeKey}""".stripMargin
        case "replicate" =>
          s""""source":{"type":"parquet","path":"$events"},
             |"dest":{"type":"parquet","path":"$replica",$edgeKey}""".stripMargin
      }
      s"""{"mode":"$mode","wmCol":"modified_ts","bookmark":"$root/$mode.wm",$body}"""
    }
  }

  def run(r: Recorder, dataDir: String, workDir: String, seed: Long,
      seconds: Double): Unit = {
    val spark = r.spark
    val edges = Hierarchy.edges(spark, dataDir).collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSeq
    val plan = EventGen.plan(edges, seed, Batches)
    r.phases("edges") = edges.size
    r.phases("initial_edges") = plan.initial.size

    val layout = new Layout(s"$workDir/etl")
    val (load, setupSecs) = r.timed(r.span("setup") {
      append(spark, layout, plan.initial)
      Modes.map(m => runMode(r, layout, m)._2).sum
    })
    r.setups += setupSecs
    r.phases("initial_load_s") = load

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var applied = 0
    val files0 = sinkFiles(layout)
    r.codegen {
      while (applied < plan.batches.size && (applied == 0 || System.nanoTime() < deadline)) {
        val t0 = System.currentTimeMillis()
        val (_, stage) = r.timed(r.span("batch/stage")(append(spark, layout, plan.batches(applied))))
        val modeTimes = Modes.map { m =>
          val (res, secs) = r.span("batch")(runModeSafely(r, layout, m))
          r.samples += Map("kind" -> "mode", "name" -> m, "s" -> secs,
            "ok" -> res.isRight, "err" -> res.left.toOption.orNull)
          res.foreach { j =>
            r.count("extract.rows", j.path("extracted").asDouble(0))
            r.count("sink.pushed_rows", j.path("pushed").asDouble(0))
          }
          secs
        }
        applied += 1
        r.samples += Map("kind" -> "batch", "name" -> s"batch-$applied", "t0" -> t0,
          "s" -> (stage + modeTimes.sum), "stage_s" -> stage, "ok" -> true)
      }
    }
    val fresh = sinkFiles(layout) -- files0.keySet
    r.count("sink.files_written", fresh.size)
    r.count("sink.bytes_written", fresh.values.sum.toDouble)
    r.phases("batches") = applied

    val vac = layout.sinkDirs.map { d =>
      r.timed(r.span("vacuum")(ParquetUpsertSink.vacuum(spark, d)))._2
    }
    r.phases("vacuum_s") = vac.sum
    r.span("check")(check(r, layout, plan, applied))
  }

  private def runMode(r: Recorder, l: Layout, mode: String): (JsonNode, Double) = {
    val cfg = mapper.readTree(l.config(mode))
    val (out, secs) = r.timed(r.span(s"main.$mode")(graft.Main.run(r.spark, cfg)))
    (mapper.readTree(out), secs)
  }

  private def runModeSafely(r: Recorder, l: Layout, mode: String): (Either[String, JsonNode], Double) = {
    val n0 = System.nanoTime()
    try {
      val (j, secs) = runMode(r, l, mode)
      (Right(j), secs)
    } catch {
      case e: Exception =>
        (Left(String.valueOf(e.getMessage).take(300)), (System.nanoTime() - n0) / 1e9)
    }
  }

  /** Appends events: adds go to the adds-only source, all to the events source. */
  private def append(spark: SparkSession, l: Layout, events: Seq[EdgeEvent]): Unit = {
    import spark.implicits._
    val df = events.toDF().withColumnRenamed("ts", "modified_ts").coalesce(1)
    df.select($"child", $"parent", $"op", $"seq", $"modified_ts")
      .write.mode("append").parquet(l.events)
    df.where($"op" === "add").select($"child", $"parent", $"modified_ts")
      .write.mode("append").parquet(l.adds)
  }

  /** Compares each dest with its answer recomputed in memory from the
    * events (the answers are a few thousand rows).
    */
  private def check(r: Recorder, l: Layout, plan: EtlPlan, applied: Int): Unit = {
    val spark = r.spark
    import spark.implicits._
    val added = (plan.initial ++ plan.batches.take(applied).flatten)
      .filter(_.op == "add").map(e => (e.child, e.parent))
    val live = EventGen.liveAfter(plan, applied)
    def pairs(dir: String): Seq[(Long, Long, Int)] =
      ParquetUpsertSink.read(spark, dir)
        .select($"ancestor", $"descendant", $"depth").as[(Long, Long, Int)].collect().toSeq
    val latest = EventGen.latest(plan, applied).values
      .map(e => (e.child, e.parent, e.op, e.seq)).toSeq
    def replica: Seq[(Long, Long, String, Long)] =
      ParquetUpsertSink.read(spark, l.replica)
        .select($"child", $"parent", $"op", $"seq").as[(Long, Long, String, Long)].collect().toSeq
    val closurePairs = pairs(l.closure)
    r.phases("live_pairs") = closurePairs.size
    r.phases("closure_dest_bytes") = dirBytes(new File(l.closure))
    Seq(
      "closure = closure of the added edges" ->
        (() => symDiff(closurePairs, EventGen.closure(added).toSeq)),
      "closure-deletes = closure of the live edges" ->
        (() => symDiff(pairs(l.deletesDest), EventGen.closure(live).toSeq)),
      "replicate = latest seq per edge" -> (() => symDiff(replica, latest))
    ).foreach { case (name, diff) =>
      val d = try diff() catch { case _: Exception => -1 }
      r.checks += Map("name" -> name, "ok" -> (d == 0), "diff_rows" -> d)
    }
  }

  /** Rows in one and not the other, plus duplicate rows on either side. */
  private def symDiff[A](a: Seq[A], b: Seq[A]): Int = {
    val (sa, sb) = (a.toSet, b.toSet)
    (sa diff sb).size + (sb diff sa).size + (a.size - sa.size) + (b.size - sb.size)
  }

  private def sinkFiles(l: Layout): Map[String, Long] =
    l.sinkDirs.flatMap(d => files(new File(d))).toMap

  private def files(f: File): Seq[(String, Long)] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else if (f.isFile && f.getName.endsWith(".parquet")) Seq(f.getPath -> f.length())
    else Nil

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

}
