package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus

/** One benchmark run: its settings, its operation counts and every
  * metric it measured, `name -> (value, unit)`.
  */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val traced: Boolean, val workDir: String, sessionS: Double) {

  var attempted = 0
  var failed = 0
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** facts a reader wants next to the metrics, as JSON values */
  val detail = mutable.LinkedHashMap.empty[String, String]
  lazy val tracer = new Tracer(spark)

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private val t0 = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit = System.err.println(f"perfbench [${Run.since(t0)}%7.2f s] $msg")

  /** One operation: counted as attempted, and as failed when it throws
    * or a correctness gate returns false. Never a time.
    */
  def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    log(what)
    val ok = try body catch {
      case e: Exception =>
        System.err.println(s"perfbench: $what threw:")
        e.printStackTrace()
        false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: FAILED $what")
    }
    ok
  }

  /** Largest heap in use after the full GC that follows each timed
    * operation.
    */
  private var liveHeapMb = 0.0

  /** A timed operation: its wall time when its gates pass. */
  def timedOp(what: String)(body: => Boolean): Option[Double] = {
    val t = System.nanoTime()
    var d = 0.0
    val ok = op(what) { val r = body; d = Run.since(t); r }
    liveHeapMb = math.max(liveHeapMb, Run.liveHeapMb())
    if (ok) Some(d) else None
  }

  /** Runs `op(k)` for k = 1 .. n, n = max(minOps, seconds / nominalS)
    * rounded up: a fixed count for a given --seconds, so every run of a
    * workload measures the same work. Returns the wall times of the
    * operations that passed their gates.
    */
  def timed(nominalS: Double, minOps: Int)(op: Int => Option[Double]): Seq[Double] = {
    val n = math.max(minOps, math.ceil(seconds / nominalS).toInt)
    (1 to n).flatMap(op(_))
  }

  /** Generates an input; returns it with its generation time. */
  def generate(gen: => DataFrame): (DataFrame, Double) = {
    log("generating inputs")
    val t = System.nanoTime()
    val df = gen
    (df, Run.since(t))
  }

  /** setup_s: JVM and session start, input generation, and the
    * workload's own warm-up and standing state.
    */
  def setupDone(inputS: Double, restS: Double): Unit = {
    put("setup_s", sessionS + inputS + restS, "s")
    detail("setup_session_s") = sessionS.toString
    detail("setup_input_s") = inputS.toString
    detail("setup_rest_s") = restS.toString
    log("set-up done")
  }

  /** wall_s (median operation) and docs_per_s of the timed operations.
    * With a handful of operations per run no tail percentile has enough
    * samples beyond it, so the tail is left to the host line.
    */
  def putWalls(walls: Seq[Double], docsPerOp: Long): Unit = {
    val w = if (walls.isEmpty) Double.NaN else Run.median(walls)
    put("wall_s", w, "s")
    put("docs_per_s", docsPerOp / w, "1/s")
    detail("timed_ops") = walls.length.toString
    detail("op_walls_s") = walls.mkString("[", ",", "]")
    detail("live_heap_mb") = liveHeapMb.toString
  }
}

object Run {
  def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Heap in use right after a full GC: what the run retains. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def keep(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  /** What the batch gates found: every decodable input url has exactly
    * one cluster row (`covered`); the share of planted duplicate pairs
    * in one cluster (`recall`); planted negatives (unique, near_dup_50)
    * sharing a cluster, as pairs and as "at most 1% of negatives"
    * (`negativesApart`).
    */
  final case class Gates(covered: Boolean, recall: Double, falseMergePairs: Long,
      negativesApart: Boolean)

  /** Batch gates of clusters (url, cluster_id) over the rows `docs` of
    * `Corpus.docs(n, seed)`, against `Corpus.truth(n, seed)`.
    */
  def clusterGates(docs: DataFrame, clusters: DataFrame, n: Long, seed: Long): Gates = {
    val spark = docs.sparkSession
    val uncovered = docs.filter(col("text").isNotNull).select(col("url"), lit(1).as("v"))
      .join(clusters.groupBy("url").count(), Seq("url"), "full_outer")
      .filter(col("v").isNull || col("count").isNull || col("count") =!= 1)
      .count()
    val truth = Corpus.truth(spark, n, seed).toDF()
    val pos = truth.filter(col("truth_kind").isin(
      "exact_dup", "alias", "empty", "near_dup_95", "near_dup_80"))
    val pairs = pos.select(col("url").as("u1"), col("truth_group").as("g"))
      .join(pos.select(col("url").as("u2"), col("truth_group").as("g")), "g")
      .filter(col("u1") < col("u2"))
      .join(clusters.select(col("url").as("u1"), col("cluster_id").as("c1")), Seq("u1"), "left")
      .join(clusters.select(col("url").as("u2"), col("cluster_id").as("c2")), Seq("u2"), "left")
      .agg(count(lit(1)), count(when(col("c1") === col("c2"), 1)))
      .head()
    val neg = truth.filter(col("truth_kind").isin("unique", "near_dup_50")).select("url")
    val merged = neg.join(clusters, Seq("url"), "left")
      .groupBy(coalesce(col("cluster_id"), col("url"))).count()
      .agg(sum(col("count")),
        coalesce(sum(when(col("count") > 1, col("count"))), lit(0L)),
        coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0)).cast("long"))
      .head()
    Gates(uncovered == 0, pairs.getLong(1).toDouble / math.max(1L, pairs.getLong(0)),
      merged.getLong(2), merged.getLong(1) <= merged.getLong(0) / 100)
  }
}
