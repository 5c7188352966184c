package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cluster.IncrementalCC
import graft.engine.{IncrementalDedup, IncrementalNearDup}
import graft.near.MinHashLSH

/** The standing state of a continuously fed corpus: the cluster
  * assignment (id, component), the exact digest snapshot (digest,
  * keeper) and the MinHash band + shingle snapshot. In production each
  * is a table; here each is a materialized frame and an append is a
  * union with a materialized delta.
  */
final class Standing(var assign: DataFrame, var exact: DataFrame,
    var near: IncrementalNearDup.Snapshot) {
  /** A state that an ingest updates without touching this one. */
  def copy: Standing = new Standing(assign, exact, near)
}

object Standing {

  /** The state of a corpus nothing has been ingested into yet. */
  def empty(spark: SparkSession, cfg: MinHashLSH.Config): Standing = {
    import spark.implicits._
    val none = Seq.empty[(String, String)]
    new Standing(none.toDF("id", "component"), none.toDF("digest", "keeper"),
      IncrementalNearDup.bootstrap(none.toDF("url", "text"), cfg))
  }
}

/** Folding one crawl batch into the standing state, one call per step,
  * each step timed as its own layer when a tracer is given.
  */
object Ingest {

  /** What one batch produced: the verdicts (kept for the correctness
    * gates) and each step's output, materialized.
    */
  final case class Out(exact: DataFrame, near: DataFrame, nearSkipped: Long,
      merged: IncrementalCC.Merged, exactDelta: DataFrame,
      nearDelta: IncrementalNearDup.Snapshot)

  private def timed[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  /** exact probe → signatures + near probe → CC merge and patch →
    * snapshot append. Updates `st` in place.
    */
  def apply(batch: DataFrame, st: Standing, cfg: MinHashLSH.Config,
      tr: Option[Tracer] = None): Out = {
    val valid = batch.filter(col("text").isNotNull)
    val exactV = timed(tr, "engine.exact_probe") {
      IncrementalDedup.dedupAgainst(valid, st.exact).localCheckpoint()
    }
    val skipped = batch.sparkSession.sparkContext.longAccumulator("near_probe_skipped")
    val (sigs, nearV) = timed(tr, "engine.near_probe") {
      val s = MinHashLSH.signatures(valid.filter(trim(col("text")) =!= ""), cfg).persist()
      (s, IncrementalNearDup.dedupAgainstSignatures(s, st.near, cfg, skippedAcc = Some(skipped)))
    }
    val edges = exactV.filter(col("dup_of").isNotNull)
      .select(col("url").as("src"), col("dup_of").as("dst"))
      .unionByName(nearV.filter(col("near_dup_of").isNotNull)
        .select(col("url").as("src"), col("near_dup_of").as("dst")))
    val merged = timed(tr, "cluster.cc_merge") {
      val m = IncrementalCC.merge(st.assign, edges)
      IncrementalCC.Merged(m.relabel.localCheckpoint(), m.newAssign.localCheckpoint())
    }
    val assign = timed(tr, "cluster.cc_patch") {
      // batch docs with no edge at all are singletons; edge endpoints
      // are covered by the merge's newAssign
      val endpoints = edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id")))
      val isolated = valid.select(col("url").as("id"), col("url").as("component"))
        .join(endpoints, Seq("id"), "left_anti")
      IncrementalCC.patch(st.assign, merged).unionByName(isolated).localCheckpoint()
    }
    val (exactDelta, nearDelta) = timed(tr, "engine.snapshot_append") {
      val d = IncrementalNearDup.snapshotDeltaFromSignatures(sigs, nearV, cfg)
      (IncrementalDedup.snapshotDelta(valid, st.exact).localCheckpoint(),
        IncrementalNearDup.Snapshot(d.bands.localCheckpoint(), d.sigs.localCheckpoint()))
    }
    sigs.unpersist()
    st.assign = assign
    st.exact = st.exact.unionByName(exactDelta)
    st.near = IncrementalNearDup.Snapshot(st.near.bands.unionByName(nearDelta.bands),
      st.near.sigs.unionByName(nearDelta.sigs))
    Out(exactV, nearV, skipped.value, merged, exactDelta, nearDelta)
  }

  /** Gates of one ingested batch: every re-crawl shares its prior
    * page's cluster, and every fresh planted-unique page is novel to
    * both probes and a singleton. Returns (ok, re-crawls found,
    * re-crawls planted).
    */
  def check(b: Inputs.Batch, v: Out, st: Standing): (Boolean, Long, Long) = {
    val a = st.assign
    val planted = b.recrawls.count()
    val found = b.recrawls
      .join(a.select(col("id").as("url"), col("component").as("c1")), "url")
      .join(a.select(col("id").as("prior_url"), col("component").as("c2")), "prior_url")
      .filter(col("c1") === col("c2")).count()
    val freshN = b.freshUnique.count()
    val freshOk = b.freshUnique
      .join(v.exact.filter(col("is_novel")).select("url"), "url")
      .join(v.near.filter(col("is_novel")).select("url"), "url")
      .join(a.filter(col("id") === col("component")).select(col("id").as("url")), "url")
      .count()
    (found == planted && freshOk == freshN, found, planted)
  }
}
