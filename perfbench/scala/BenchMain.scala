package perfbench

import java.io.File
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one process; `run.py` starts it and reads its raw
  * record. The session is configured as `graft.Main` configures it
  * (`graft.util.configure`), on `local[cores]`, with no benchmark-only
  * settings.
  *
  * {{{
  * perfbench.BenchMain <workload> <seed> <seconds> <trace 0|1> <cores>
  *   <dataDir> <workDir> <outFile> [<expected.json>]
  * }}}
  */
object BenchMain {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    require(args.length >= 8, "usage: BenchMain <workload> <seed> <seconds> " +
      "<trace> <cores> <dataDir> <workDir> <outFile> [<expected.json>]")
    val Array(workload, seedS, secondsS, traceS, coresS, dataDir, workDir, outFile) = args.take(8)
    val expected = args.lift(8).map(readExpected).getOrElse(Map.empty)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val spark = graft.util.configure(SparkSession.builder()
      .master(s"local[$coresS]").appName(s"perfbench-$workload")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = new Recorder(spark, traceS == "1")
    workload match {
      case "etl-closure" => EtlClosure.run(r, dataDir, workDir, seed, seconds)
      case "query-mix" => QueryLoop.run(r, dataDir, seed, seconds, expected)
      case other => sys.error(s"unknown workload '$other'")
    }
    endState(r)
    val out = r.toMap ++ Map("workload" -> workload, "seed" -> seed, "cores" -> coresS.toInt)
    mapper.writeValue(new File(outFile), out)
    spark.stop()
  }

  private def endState(r: Recorder): Unit = {
    val sc = r.spark.sparkContext
    r.counters("storage.persisted_rdds") = sc.getPersistentRDDs.size.toDouble
    val storage = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    r.counters("storage_mb") = storage / 1048576.0
    // the least of three readings, each after a full collection and a
    // pause in which the ContextCleaner can drop what the run released
    val rt = Runtime.getRuntime
    r.counters("retained_heap_mb") = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      System.gc()
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  private def readExpected(path: String): Map[String, (Long, Long)] = {
    val f = new File(path)
    if (!f.exists()) Map.empty
    else {
      val it = mapper.readTree(f).properties().iterator()
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> ((e.getValue.get("rows").asLong(), e.getValue.get("hash").asLong()))
      }
      b.result()
    }
  }
}
