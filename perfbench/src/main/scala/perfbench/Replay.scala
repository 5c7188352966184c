package perfbench

import java.nio.file.Paths
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.checkpoint.Catalog
import graft.cluster.ConnectedComponents
import graft.engine.DedupEngine
import graft.functions.Digests
import graft.near.{MinHashLSH, SimHash}
import graft.pipeline.DedupPipeline
import graft.report.Report
import graft.substring.SubstringDedup

/** The traced per-layer replay. Each layer call runs to the `noop` sink
  * inside its own span and job group, with its inputs materialized
  * beforehand, so a layer's numbers hold only its own work.
  */
object Replay {

  /** Layers of one batch dedup, in pipeline order. */
  val pipelineLayers = Seq("report.identity", "engine.exact", "near.signatures",
    "near.mh_candidates", "near.mh_verify", "near.simhash_edges", "substring.windows",
    "substring.longrun", "cluster.cc")
  val checkpointLayers = Seq("checkpoint.write", "checkpoint.read")
  val ingestLayers = Seq("engine.exact_probe", "engine.near_probe", "cluster.cc_merge",
    "cluster.cc_patch", "engine.snapshot_append")
  val all: Seq[String] = pipelineLayers ++ checkpointLayers ++ ingestLayers

  private def layer(tr: Tracer, name: String)(body: => Map[String, Long]): Unit = {
    val m = tr.span(name)(body)
    tr.observed(name) = m
  }

  /** Every batch-dedup layer over `docs`. `edges` is the pipeline's
    * materialized edge set over the same docs (the input of CC).
    */
  def pipeline(tr: Tracer, docs: DataFrame, edges: DataFrame,
      cfg: DedupPipeline.Config): Unit = {
    val valid = docs.filter(col("text").isNotNull)
    layer(tr, "report.identity")(Sink(Report.dedupIdentity(valid)))
    val canon = Run.keep(Report.dedupIdentity(valid))
    layer(tr, "engine.exact")(Sink(
      DedupEngine.run(canon, "url", Digests.cascade(col("html"), cfg.algs)).assignments))
    val text = Run.keep(canon.filter(trim(col("text")) =!= ""))
    layer(tr, "near.signatures")(Sink(MinHashLSH.signatures(text, cfg.minhash)))
    val sigs = Run.keep(MinHashLSH.signatures(text, cfg.minhash))
    layer(tr, "near.mh_candidates")(
      Sink(MinHashLSH.candidatesAndSkips(sigs, cfg.minhash), Sink.skippedRows))
    val cand = Run.keep(MinHashLSH.candidatesAndSkips(sigs, cfg.minhash)
      .filter(col("src").isNotNull).select("src", "dst").distinct())
    layer(tr, "near.mh_verify")(
      Sink(MinHashLSH.verifyCandidates(cand, sigs, cfg.minhash), Sink.pairs) +
        ("candidate_pairs" -> cand.count()))
    layer(tr, "near.simhash_edges")(Sink(SimHash.edgesAndSkips(
      SimHash.fingerprintsFromShingles(sigs, cfg.simhash), cfg.simhash), Sink.skippedRows))
    val sc = cfg.substring
    layer(tr, "substring.windows")(Sink(SubstringDedup.edgesAndSkips(text, sc.w, sc.stride,
      sc.minShared, maxDocsPerWindow = sc.maxDocsPerWindow, salts = sc.salts),
      Sink.skippedRows))
    val lc = cfg.longRun
    val lrCand = SubstringDedup.repeatCandidatesAndSkips(text, lc.minLen,
        maxDocsPerGram = lc.maxDocsPerGram, salts = lc.salts)
      .filter(col("src").isNotNull).select("src", "dst").distinct().count()
    layer(tr, "substring.longrun")(Sink(SubstringDedup.longRunEdgesAndSkips(text, lc.minLen,
      maxDocsPerGram = lc.maxDocsPerGram, salts = lc.salts), Sink.skippedRows, Sink.pairs) +
      ("candidate_pairs" -> lrCand))
    layer(tr, "cluster.cc")(Sink(ConnectedComponents.run(edges.select("src", "dst"))))
    Seq(canon, text, sigs, cand).foreach(_.unpersist())
  }

  /** The three stage tables of a checkpointed run, written to a fresh
    * Catalog under `dir` and read back.
    */
  def checkpoint(tr: Tracer, dir: String, docs: DataFrame, edges: DataFrame,
      clusters: DataFrame): Unit = {
    val cat = new Catalog(Paths.get(dir).toAbsolutePath.toString, docs.sparkSession)
    val deduped = Run.keep(docs.filter(col("text").isNotNull)
      .join(clusters.filter(col("url") === col("cluster_id")).select("url"), "url")
      .withColumn("warc_day", to_date(col("warc_ts"))))
    val tables = Seq(("edges", edges, Nil), ("clusters", clusters, Nil),
      ("deduped_docs", deduped, Seq("warc_day", "lang")))
    layer(tr, "checkpoint.write") {
      tables.foreach { case (name, df, parts) => cat.write(name, df, parts) }
      Map("rows_out" -> tables.map(_._2.count()).sum)
    }
    layer(tr, "checkpoint.read") {
      Map("rows_out" -> tables.map(t => Sink(cat.read(t._1))("rows_out")).sum)
    }
    deduped.unpersist()
  }

  /** Row counts of the ingest steps a traced `Ingest` call timed. */
  def ingestRows(tr: Tracer, out: Ingest.Out, st: Standing): Unit = {
    tr.observed("engine.exact_probe") = Map("rows_out" -> out.exact.count())
    tr.observed("engine.near_probe") = Map("rows_out" -> out.near.count(),
      "skipped_rows" -> out.nearSkipped)
    tr.observed("cluster.cc_merge") = Map(
      "rows_out" -> (out.merged.relabel.count() + out.merged.newAssign.count()))
    tr.observed("cluster.cc_patch") = Map("rows_out" -> st.assign.count())
    tr.observed("engine.snapshot_append") = Map("rows_out" ->
      (out.exactDelta.count() + out.nearDelta.bands.count() + out.nearDelta.sigs.count()))
  }

  /** Per-layer metrics, `<layer>.<measure>` -> (value, unit). */
  def metrics(tr: Tracer): Seq[(String, (Double, String))] = all.flatMap { name =>
    val a = tr.acc(name)
    val obs = tr.observed.getOrElse(name, Map.empty)
    val measures = Seq(
      "wall_s" -> (tr.seconds(name), "s"),
      "jobs" -> (a.jobs.size.toDouble, "count"),
      "tasks" -> (a.tasks.toDouble, "count"),
      "task_time_s" -> (a.taskTimeMs / 1000.0, "s"),
      "shuffle_write_bytes" -> (a.shuffleWrite.toDouble, "bytes"),
      "shuffle_read_bytes" -> (a.shuffleRead.toDouble, "bytes"),
      "spill_bytes" -> (a.spill.toDouble, "bytes"),
      "task_skew" -> (a.taskSkew, "ratio"),
      "rows_out" -> (obs.getOrElse("rows_out", 0L).toDouble, "count")) ++
      obs.get("skipped_rows").map(v => "skipped_rows" -> (v.toDouble, "count")) ++
      obs.get("candidate_pairs").toSeq.flatMap(c => Seq(
        "candidate_pairs" -> (c.toDouble, "count"),
        "yield" -> (obs("pairs").toDouble / math.max(1L, c), "ratio")))
    measures.map { case (m, v) => s"$name.$m" -> v }
  }
}
