package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryPack, SparkEntry, StoredArtifacts}

/** A registered query with the pack that contributes it. */
final case class PackQuery(pack: String, name: String, build: (SparkSession, String) => DataFrame)

/** `query-mix`: registered queries as a client of a long-running session
  * issues them.
  *
  * The pool is the first 7 queries of the Jx pack plus the first query of
  * each pack whose first query reads no stored artifact other than the BPE
  * merges (see [[Others]]): 14 queries, so that two passes fit a run. Set-up drops all state and builds the two
  * stored artifacts the pool reads, each timed. The loop runs whole passes
  * over the pool, each in seeded order, at least two and until the time is
  * up. A sample builds the query, forces its executed plan and materializes
  * it as its digest: a hash of every column of every row, so that, as with
  * the `noop` sink, no column is pruned away, while every sample's answer
  * is checked against the digest recorded from the current tree. After
  * each sample the persists it left behind are released from outside, so
  * every sample is cold; the stored artifacts must survive that, and no
  * stored builder may run inside a sample.
  */
object QueryLoop {

  def packName(p: QueryPack): String = p.getClass.getSimpleName.stripSuffix("$")

  /** The first query of each other pack that fits the pool. Hierarchy,
    * Text, Dedup, Dsir and Cluster are left out: their first queries read
    * stored artifacts that take 2-55 s to build in a `graft.Main` session.
    */
  val Others = Set("Relational", "Etl", "Pack", "Ann", "Multimodal", "Bpe", "StreamOps")

  def pool: Seq[PackQuery] = SparkEntry.packs.flatMap { p =>
    val qs = p.all.map(q => PackQuery(packName(p), q.name, q.build))
    if (packName(p) == "Jx") qs.take(7) else if (Others(packName(p))) qs.take(1) else Nil
  }

  def run(r: Recorder, d: String, seed: Long, seconds: Double,
      expected: Map[String, (Long, Long)]): Unit = {
    val spark = r.spark
    val (builds, secs) = r.timed(r.span("setup") {
      reset(spark)
      buildArtifacts(r, spark, d)
    })
    r.setups += secs
    r.phases("artifact_build") = builds
    val keep = settledIds(spark)
    r.phases("post_setup_rdds") = keep.size
    val qs = pool
    val rng = new SplittableRandom(seed)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var passes = 0
    r.codegen {
      while (passes < 2 || System.nanoTime() < deadline) {
        passes += 1
        EventGen.shuffle(qs, rng).foreach(q => sample(r, q, d, keep, expected, passes))
      }
    }
    r.phases("passes") = passes
    val after = settledIds(spark)
    r.checks += Map("name" -> "stored artifacts survive every sample",
      "ok" -> keep.subsetOf(after), "missing" -> (keep -- after).size)
  }

  /** Order-independent digest of a result as a one-row frame: (row count,
    * sum of 31-bit row hashes). Doubles are rounded to 6 decimals first so
    * that a last-bit difference in a float sum does not read as a
    * different answer.
    */
  def digest(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(2147483647L))
    df.select(h.as("h")).agg(count(lit(1)), coalesce(sum(col("h")), lit(0L)))
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType | _: StructType | _: ArrayType => to_json(c)
    case _ => c
  }

  /** Builds the stored artifacts the pool reads, each timed. */
  def buildArtifacts(r: Recorder, spark: SparkSession, d: String): Map[String, Double] = {
    val builds: Seq[(String, () => Any)] = Seq(
      "nested_orders" -> (() => graft.operators.Jx.storedNestedOrders(spark, d)),
      "bpe_merges" -> (() => graft.operators.Bpe.storedMerges(spark, d)))
    builds.map { case (label, f) =>
      label -> r.timed(r.span(s"build.$label")(f()))._2
    }.toMap
  }

  /** Releases every persisted RDD that is not in `keep`, after dropping the
    * CacheManager's entries. Returns how many of the released RDDs a stored
    * builder created, which a timed sample must never leave behind.
    */
  def release(spark: SparkSession, keep: Set[Int]): Int = {
    spark.catalog.clearCache()
    val extra = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !keep(id) }
    extra.foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
    extra.count { case (_, rdd) => creationStack(rdd).contains("$.stored") }
  }

  /** The stack that created `rdd` (Spark keeps it package-private). */
  private def creationStack(rdd: org.apache.spark.rdd.RDD[_]): String = {
    val site = classOf[org.apache.spark.rdd.RDD[_]].getMethod("creationSite").invoke(rdd)
    String.valueOf(site.getClass.getMethod("longForm").invoke(site))
  }

  /** One sample, timed: build, plan, materialize the digest. Then, untimed,
    * release what the query persisted.
    */
  def sample(r: Recorder, q: PackQuery, d: String, keep: Set[Int],
      expected: Map[String, (Long, Long)], pass: Int): Unit = {
    val spark = r.spark
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val got = try {
      r.span(s"query.${q.pack}.${q.name}") {
        val df = digest(r.span("build")(q.build(spark, d)))
        r.span("plan")(df.queryExecution.executedPlan)
        val row = r.span("exec")(df.head())
        Right((row.getLong(0), row.getLong(1)))
      }
    } catch { case e: Exception => Left(String.valueOf(e.getMessage).take(300)) }
    val secs = (System.nanoTime() - n0) / 1e9
    val leaked = release(spark, keep)
    val matches = got.exists(g => expected.get(q.name).forall(_ == g))
    r.samples += Map("kind" -> "query", "pack" -> q.pack, "name" -> q.name,
      "pass" -> pass, "t0" -> t0, "s" -> secs, "ok" -> got.isRight,
      "err" -> got.left.toOption.orNull, "check" -> (matches && leaked == 0),
      "rows" -> got.toOption.map(g => Long.box(g._1)).orNull,
      "hash" -> got.toOption.map(g => Long.box(g._2)).orNull, "stored_leaks" -> leaked)
  }

  /** Fresh state: drops every stored artifact and cached frame. */
  def reset(spark: SparkSession): Unit = {
    StoredArtifacts.clear(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Ids of persisted RDDs once the ContextCleaner has dropped those no
    * frame refers to any more (set-up leaves such intermediates behind).
    */
  def settledIds(spark: SparkSession): Set[Int] = {
    System.gc()
    Thread.sleep(300)
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  }
}
