package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Task-metric sums of one layer (one Spark job group). */
final class LayerAcc {
  val jobs = mutable.Set.empty[Int]
  var tasks = 0L
  var taskTimeMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  /** executor run time of every task, per stage */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max over median task time of the stage that took the most task
    * time: whether a straggler sets the layer's dominant stage.
    */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.length / 2)
      ts.last.toDouble / math.max(1L, med)
    }
}

/** Sums task metrics per job group. The benchmark sets the job group to
  * the layer's name around each layer call, so a group is a layer.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val accs = mutable.Map.empty[String, LayerAcc]
  private val ended = mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      accs.getOrElseUpdate(g, new LayerAcc).jobs += e.jobId
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += e.jobId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = accs(g)
      a.tasks += 1
      a.taskTimeMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def acc(group: String): LayerAcc = synchronized(accs.getOrElse(group, new LayerAcc))
  def hasEnded(jobId: Int): Boolean = synchronized(ended.contains(jobId))
}

/** One timed call: name, parent span, start and end on the driver's
  * monotonic clock (ns since the tracer started).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans (kept in memory, written at exit) plus per-layer task sums.
  * Only the traced run creates one, and the listener is on from then
  * until `detach`: the timed run never registers it.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new GroupListener
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  /** layer name -> (rows_out, extra observed values) */
  val observed = mutable.Map.empty[String, Map[String, Long]]

  attach()

  /** Runs `body` as the layer `name`: one span, and every job it starts
    * is counted under the job group `name`.
    */
  def span[T](name: String)(body: => T): T = {
    val id = spans.length + open.length
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name) :: open
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val s = System.nanoTime()
    try body
    finally {
      val e = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some((_, p)) => sc.setJobGroup(p, p, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, parent, s - t0, e - t0)
    }
  }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Blocks until the listener has seen every event posted so far: the
    * listener bus delivers in order, so once a marker job's end
    * arrives, so have all earlier task ends.
    */
  def drain(): Unit = {
    sc.setJobGroup("__drain", "__drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val ids = listener.acc("__drain").jobs
    val deadline = System.nanoTime() + 60000000000L
    while (!(ids.nonEmpty && ids.forall(listener.hasEnded)) && System.nanoTime() < deadline) {
      Thread.sleep(5)
    }
  }

  def acc(name: String): LayerAcc = listener.acc(name)

  def attach(): Unit = sc.addSparkListener(listener)

  def detach(): Unit = sc.removeSparkListener(listener)

  def spansJson: String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",", "]")
}

/** Runs a frame to the `noop` sink, so every column is computed and
  * nothing is written. Observed aggregates ride along in the same job.
  */
object Sink {
  private var n = 0

  /** Row count plus each named aggregate, all as longs. */
  def apply(df: DataFrame, extra: (String, Column)*): Map[String, Long] = {
    n += 1
    val obs = Observation(s"perfbench_$n")
    val aggs = (count(lit(1)).as("rows_out") +: extra.map { case (k, c) => c.as(k) })
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    obs.get.map { case (k, v) => k -> Option(v).map(_.toString.toLong).getOrElse(0L) }
  }

  /** Sum of `skipped` over the over-cap skip rows (null src). */
  val skippedRows: (String, Column) = "skipped_rows" ->
    coalesce(sum(when(col("src").isNull, col("skipped"))), lit(0L))

  /** Pair rows (non-null src). */
  val pairs: (String, Column) = "pairs" -> count(col("src"))

  /** Order-independent fingerprint of a (url, cluster_id) frame:
    * count, xor and high-half sum of per-row hashes.
    */
  def clusterPrint(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(col("url"), col("cluster_id"))
    val m = apply(df,
      "xor" -> coalesce(expr("bit_xor(xxhash64(url, cluster_id))"), lit(0L)),
      "hi" -> coalesce(sum(shiftrightunsigned(h, 33)), lit(0L)))
    (m("rows_out"), m("xor"), m("hi"))
  }
}
