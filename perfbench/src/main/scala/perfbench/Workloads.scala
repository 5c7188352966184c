package perfbench

import org.apache.spark.sql.DataFrame
import graft.pipeline.DedupPipeline

/** The two workloads. Each sets up (timed as setup_s), then either runs
  * its timed operations (trace off) or four operations, the third
  * traced, and the per-layer replay (trace on).
  */
object Workloads {

  // Sizes fit the time budget (all tracked runs within an hour) on a
  // 4-core host: at these sizes one operation is 4-7 s, most of it
  // per-job overhead and code generation.
  /** Corpus rows of crawl_batch. */
  val CrawlDocs = 4000L
  /** Untimed runs between the reference run and the timed ones. */
  val CrawlWarmUps = 1
  /** Prior corpus rows and crawl batch rows of incremental_ingest. */
  val PriorDocs = 2000L
  val BatchDocs = 500

  val names = Seq("crawl_batch", "incremental_ingest")

  def apply(run: Run): Unit = run.workload match {
    case "crawl_batch" => crawlBatch(run)
    case "incremental_ingest" => incrementalIngest(run)
  }

  // --- crawl_batch ---------------------------------------------------

  /** `DedupPipeline.run`, default config, over one crawl. */
  def crawlBatch(run: Run): Unit = {
    val cfg = DedupPipeline.Config()
    val (docs, inputS) = run.generate(Inputs.corpus(run.spark, CrawlDocs, run.seed))
    val t = System.nanoTime()
    val ref = DedupPipeline.run(docs, cfg)
    val clusters = Run.keep(ref.clusters)
    val refPrint = Sink.clusterPrint(clusters)
    val refS = Run.since(t)
    gateReference(run, docs, clusters, CrawlDocs)

    def rerun(): Boolean = Sink.clusterPrint(DedupPipeline.run(docs, cfg).clusters) == refPrint
    def once(k: Int): Option[Double] = run.timedOp(s"pipeline run $k")(rerun())
    if (!run.traced) {
      // The JIT still speeds up successive runs by a third over the
      // first ten; an untimed, gated warm-up run takes the steepest part
      // of that slope out of the timed ones.
      val w = System.nanoTime()
      (1 to CrawlWarmUps).foreach(k => run.op(s"warm-up run $k")(rerun()))
      run.setupDone(inputS, refS + Run.since(w))
      // two operations of 5-7 s at --seconds 10
      run.putWalls(run.timed(5, 2)(once), CrawlDocs)
    } else {
      val e2e = traceOps(run, (k, _) => once(k))
      val tr = run.tracer
      Replay.pipeline(tr, docs, ref.edges, cfg)
      Replay.checkpoint(tr, s"${run.workDir}/replay-catalog", docs, ref.edges, clusters)
      replayIngest(run, docs, CrawlDocs)
      finishTrace(run, e2e, Replay.pipelineLayers.filterNot(_.startsWith("substring.")))
    }
  }

  // --- incremental_ingest --------------------------------------------

  /** Crawl batches folded one at a time into the standing state of a
    * prior corpus.
    */
  def incrementalIngest(run: Run): Unit = {
    val cfg = DedupPipeline.Config()
    val (prior, inputS) = run.generate(Inputs.corpus(run.spark, PriorDocs, run.seed))
    val t = System.nanoTime()
    // the standing state is the prior crawl ingested into an empty one,
    // by the same calls as every batch
    val prior0 = Standing.empty(run.spark, cfg.minhash)
    run.op("ingest the prior crawl") { Ingest(prior, prior0, cfg.minhash); true }
    var found, planted = 0L
    // Every batch is folded into a copy of the same standing state, so
    // every timed batch does the same work: in a sequence, each batch
    // adds a union leg to the snapshots and the next one runs slower.
    def once(k: Int, tr: Option[Tracer] = None): Option[Double] = {
      val b = Inputs.crawlBatch(run.spark, prior, PriorDocs, run.seed, k, BatchDocs)
      val st = prior0.copy
      var out: Ingest.Out = null
      val wall = run.timedOp(s"ingest batch $k") {
        out = Ingest(b.docs, st, cfg.minhash, tr)
        true
      }
      val ok = out != null && run.op(s"gates of batch $k") {
        val (pass, f, p) = Ingest.check(b, out, st)
        found += f
        planted += p
        pass
      }
      tr.foreach(t => Replay.ingestRows(t, out, st))
      b.release()
      wall.filter(_ => ok)
    }
    // one untimed warm-up batch, gated like every other
    once(0)
    run.setupDone(inputS, Run.since(t))
    if (!run.traced) {
      // two batches of 7-10 s, each with 1-2 s of generation and gates,
      // at --seconds 10
      run.putWalls(run.timed(8, 2)(once(_)), BatchDocs)
      run.put("dup_pair_recall", found.toDouble / math.max(1L, planted), "ratio")
    } else {
      val e2e = traceOps(run, once)
      val tr = run.tracer
      // the batch-dedup and checkpoint layers over the prior crawl: at
      // 2k docs its hot boilerplate exceeds the substring caps, so the
      // over-cap skips show as on crawl_batch
      val r = DedupPipeline.run(prior, cfg)
      val pc = Run.keep(r.clusters)
      Replay.pipeline(tr, prior, r.edges, cfg)
      Replay.checkpoint(tr, s"${run.workDir}/replay-catalog", prior, r.edges, pc)
      finishTrace(run, e2e, Replay.ingestLayers)
    }
  }

  // --- shared ----------------------------------------------------------

  /** The reference (set-up) clusters pass the batch gates; their recall
    * is the workload's dup_pair_recall.
    */
  private def gateReference(run: Run, docs: DataFrame, clusters: DataFrame, n: Long): Unit = {
    run.op("reference clusters") {
      val g = Run.clusterGates(docs, clusters, n, run.seed)
      run.put("dup_pair_recall", g.recall, "ratio")
      run.detail("false_merge_pairs") = g.falseMergePairs.toString
      g.covered && g.recall >= 0.99 && g.negativesApart
    }
  }

  /** Operation 1 warms up, operation 2 runs before the tracer exists,
    * operation 3 inside the span "e2e" with the listener on (`once`
    * gets the tracer, to span its own layers), and operation 4 with the
    * listener off again. The tracing overhead is operation 3 over the
    * mean of 2 and 4, so a JIT that is still warming up does not read
    * as a gain. Leaves the listener on for the replay and returns the
    * traced operation's wall time.
    */
  private def traceOps(run: Run, once: (Int, Option[Tracer]) => Option[Double]): Double = {
    once(1, None)
    val before = once(2, None)
    val tr = run.tracer
    val traced = tr.span("e2e")(once(3, Some(tr))).getOrElse(Double.NaN)
    tr.drain()
    tr.detach()
    val u = before.toSeq ++ once(4, None)
    tr.attach()
    val untraced = u.sum / u.length
    run.put("trace.untraced_wall_s", untraced, "s")
    run.put("trace.overhead_ratio", traced / untraced, "ratio")
    traced
  }

  /** The ingest layers on a crawl batch against the standing state of
    * `docs` ingested into an empty one.
    */
  private def replayIngest(run: Run, docs: DataFrame, n: Long): Unit = {
    val mh = DedupPipeline.Config().minhash
    val st = Standing.empty(run.spark, mh)
    run.op("ingest the crawl") { Ingest(docs, st, mh); true }
    val b = Inputs.crawlBatch(run.spark, docs, n, run.seed, 1, BatchDocs)
    val out = Ingest(b.docs, st, mh, Some(run.tracer))
    run.op("gates of the replayed batch")(Ingest.check(b, out, st)._1)
    Replay.ingestRows(run.tracer, out, st)
    b.release()
  }

  /** Per-layer metrics, plus the e2e operation's wall time not covered
    * by the spans of the layers it consists of.
    */
  private def finishTrace(run: Run, e2e: Double, e2eLayers: Seq[String]): Unit = {
    val tr = run.tracer
    tr.drain()
    Replay.metrics(tr).foreach { case (k, (v, u)) => run.put(k, v, u) }
    run.put("pipeline.wall_s", e2e, "s")
    run.put("pipeline.unattributed_s", e2e - e2eLayers.map(tr.seconds).sum, "s")
    tr.detach()
  }
}
