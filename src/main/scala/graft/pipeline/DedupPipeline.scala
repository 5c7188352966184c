package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cluster.ConnectedComponents
import graft.engine.{DedupEngine, DedupResult}
import graft.functions.Digests
import graft.near.{MinHashLSH, SimHash}
import graft.report.Report
import graft.substring.SubstringDedup

/** The flagship end-to-end pipeline (north rule): exact content-hash
  * grouping (reference semantics, stage 1) + MinHash/LSH and SimHash
  * near-dup edges + alias (identity) edges → large-star/small-star
  * connected components → cluster assignments.
  *
  * Dataflow (every arrow a narrow, declarative DataFrame transform —
  * Catalyst plans the physical side):
  *
  *   docs ─ quarantine(F4) ─ identity pre-pass(F3) ─┬─ exact cascade (A1) ─ star edges
  *                                                  ├─ MinHash/LSH [EXT] ─ verified edges
  *                                                  ├─ SimHash [EXT] ───── verified edges
  *                                                  └─ substring windows [EXT, opt-in]
  *   all edges ∪ alias edges ∪ skip rows → edge table → connected components
  *     → (url, cluster_id)
  *
  * The edge table and the clusters are the two stage points: local
  * (checkpointed edges, lazy clusters) by default, or staged through a
  * [[graft.checkpoint.Catalog]] for resumable runs.
  */
object DedupPipeline {

  /** Substring-stage knobs (Lee et al.-style duplicated-window edges:
    * docs sharing ≥ minShared duplicated w-token windows are linked).
    * Off by default — it links PARTIAL overlaps (boilerplate, quoted
    * passages) that whole-doc near-dup stages rightly ignore, so it is
    * a policy choice, not a strictness increment.
    */
  case class SubstringConfig(
      w: Int = 20,
      stride: Int = 10,
      minShared: Int = 2,
      maxDocsPerWindow: Int = 50,
      /** > 1 spreads a corpus-dominating window hash over this many
        * round-1 tasks (shared CappedGroups.saltedDrain mechanism).
        */
      salts: Int = 1)

  /** Long-run stage knobs (Lee et al.'s policy: link docs sharing one
    * exact run of ≥ minLen chars, any alignment, any partition
    * placement — winnowing candidates + exact LCS verify).
    */
  case class LongRunConfig(
      minLen: Int = 60,
      maxDocsPerGram: Int = 50,
      /** > 1 spreads a corpus-dominating winnow gram over this many
        * round-1 tasks (shared CappedGroups.saltedDrain mechanism).
        */
      salts: Int = 1)

  case class Config(
      algs: Seq[String] = Seq("filesize", "initial_xxhash", "sha"),
      ignoreEmpty: Boolean = false,
      useMinHash: Boolean = true,
      useSimHash: Boolean = true,
      useSubstring: Boolean = false,
      useLongRun: Boolean = false,
      minhash: MinHashLSH.Config = MinHashLSH.Config(),
      simhash: SimHash.Config = SimHash.Config(),
      substring: SubstringConfig = SubstringConfig(),
      longRun: LongRunConfig = LongRunConfig())

  final class Result(
      val clusters: DataFrame, // (url, cluster_id) — every input url
      val exact: DedupResult,
      val edges: DataFrame, // (src, dst, kind)
      val quarantined: DataFrame,
      docsInThunk: () => Long,
      skippedThunk: () => Map[String, Long],
      /** catalog runs only: the deduped corpus (one row per
        * cluster canonical), staged with the north rule's
        * (days(warc_ts), lang) physical layout
        */
      val dedupedDocs: Option[DataFrame] = None) {
    lazy val docsIn: Long = docsInThunk()
    /** Rows dropped by over-cap near-dup buckets per stage (SCALE.md
      * invariant 3: capped AND surfaced, never silent). Read back on
      * first use from the edge table's skip rows, which the
      * candidate-generation pass itself emits — no second shingling
      * scan.
      */
    lazy val skippedBucketRows: Map[String, Long] = skippedThunk()
    lazy val quarantinedCount: Long = quarantined.count()
    /** duplicates-only tab report over final clusters (reference P2). */
    lazy val report: DataFrame = Report.duplicateReport(
      clusters.groupBy("cluster_id").agg(sort_array(collect_list(col("url"))).as("members")))
    lazy val summary: DataFrame = Report.summary(
      clusters.groupBy("cluster_id").agg(collect_list(col("url")).as("members")))

    /** Quality keep-policy over the final clusters: one row per
      * cluster — (cluster_id, keep_id = best-scoring member url,
      * best_score) — the CCNet/RefinedWeb-style alternative to the
      * min-id canonical (ties → min url). `scored` supplies
      * (urlCol, scoreCol) for every clustered url; score must be
      * non-null/non-NaN. One map-side-combinable aggregate
      * (graft.cluster.KeepBest), no window sort.
      */
    def keepBestCanonical(scored: DataFrame, urlCol: String = "url",
        scoreCol: String = "score"): DataFrame =
      graft.cluster.KeepBest.representatives(
        clusters.join(
          scored.select(col(urlCol).as("url"), col(scoreCol).as("__q")), "url"),
        Seq("cluster_id"), col("__q"), "url")
  }

  /** The one pipeline DAG. Without a `catalog` the edge table is a
    * local checkpoint and the clusters stay lazy; with one, the edge
    * table, the clusters and the deduped corpus are staged through it
    * (north rule: every stage materializes with lineage so the pipeline
    * resumes mid-run without recompute). A re-run with the same
    * `inputLineage` + config reads the stage tables back instead of
    * recomputing, and per-stage metrics land in the catalog's metrics
    * table (S5/S6). `inputLineage` must change whenever the rows of
    * `docsRaw` may have changed.
    */
  def run(docsRaw: DataFrame, cfg: Config = Config(),
      catalog: Option[graft.checkpoint.Catalog] = None, inputLineage: String = ""): Result = {
    val base = s"$inputLineage|algs=${cfg.algs.mkString(",")}|ie=${cfg.ignoreEmpty}" +
      s"|mh=${cfg.useMinHash}:${cfg.minhash}|sh=${cfg.useSimHash}:${cfg.simhash}" +
      s"|sub=${cfg.useSubstring}:${cfg.substring}" +
      s"|lr=${cfg.useLongRun}:${cfg.longRun}"

    // F4 quarantine: undecodable rows (text null) are counted and routed
    // out, never silently dropped (Files.pm:229-233, Files.t:290-299)
    val quarantined = docsRaw.filter(col("text").isNull)
    val valid0 = docsRaw.filter(col("text").isNotNull)
    val valid = if (cfg.ignoreEmpty) valid0.filter(octet_length(col("html")) > 0) else valid0

    // F3 identity pre-pass, run ONCE (r6): the small loser→canonical
    // alias set is cached by a lazy localCheckpoint on first use inside
    // the first consuming job (the broadcast build for canon's
    // anti-join), so canon's consumers (digest cascade, shingling)
    // never re-execute the identity subtree and page bytes are never
    // cached. Lazy vals: a RESUMED run that never touches canon pays no
    // identity job.
    lazy val aliases = Report.aliasEdges(valid).localCheckpoint(false)
    lazy val canon = Report.dedupIdentity(valid, aliases = Some(aliases))
    // stage 1: exact content-hash cascade (reference semantics)
    lazy val exact = DedupEngine.run(canon, "url", Digests.cascade(col("html"), cfg.algs))

    // The edge table: alias + exact + near-dup edges PLUS one aggregated
    // skip row per near-dup stage (kind = 'skip:<stage>', src/dst null,
    // SCALE.md invariant 3: capped AND surfaced) — the over-cap metric
    // is part of the materialized edge table, so a resume reads it back
    // instead of re-shingling the corpus (r2 VERDICT #3).
    var persisted = Seq.empty[DataFrame]
    def edgeTable(): DataFrame = {
      val exactEdges = exact.assignments
        .filter(col("id") =!= col("block_id"))
        .select(col("id").as("src"), col("block_id").as("dst"), lit("exact").as("kind"))
      // [EXT] near-dup stages over non-empty canonical text. ONE
      // shingling/signature pass feeds MinHash banding, verification
      // and SimHash fingerprints (tokenize+hash is the dominant
      // map-side cost); SimHash shares MinHash's shingles only when
      // both stages use the same shingleK — a differing
      // cfg.simhash.shingleK gets its own pass instead of silently
      // inheriting the wrong feature universe.
      val textDocs = canon.filter(trim(col("text")) =!= "")
      val sameK = cfg.simhash.shingleK == cfg.minhash.shingleK
      val sigsMh: Option[DataFrame] =
        if (cfg.useMinHash || (cfg.useSimHash && sameK))
          Some(MinHashLSH.signatures(textDocs, cfg.minhash).persist())
        else None
      val sigsSh: Option[DataFrame] =
        if (!cfg.useSimHash) None
        else if (sameK) sigsMh
        else Some(MinHashLSH.signatures(textDocs,
          cfg.minhash.copy(shingleK = cfg.simhash.shingleK)).persist())
      // (kind, candidate pairs + over-cap skip rows of one streamed
      // pass, candidate pairs → edges). The optional substring stages
      // link docs with long shared runs that whole-doc similarity
      // misses: duplicated windows, or one exact shared run ≥ minLen
      // chars verified by LCS (Lee et al. policy).
      val stages: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
        Option.when(cfg.useMinHash)(("minhash",
          MinHashLSH.candidatesAndSkips(sigsMh.get, cfg.minhash),
          (p: DataFrame) => MinHashLSH.verifyCandidates(p.distinct(), sigsMh.get, cfg.minhash))),
        sigsSh.map(sg => ("simhash",
          SimHash.edgesAndSkips(SimHash.fingerprintsFromShingles(sg, cfg.simhash), cfg.simhash),
          (p: DataFrame) => p.distinct())),
        Option.when(cfg.useSubstring)(("substring",
          SubstringDedup.edgesAndSkips(textDocs, cfg.substring.w, cfg.substring.stride,
            cfg.substring.minShared, maxDocsPerWindow = cfg.substring.maxDocsPerWindow,
            salts = cfg.substring.salts),
          (p: DataFrame) => p)),
        Option.when(cfg.useLongRun)(("longrun",
          SubstringDedup.longRunEdgesAndSkips(textDocs, cfg.longRun.minLen,
            maxDocsPerGram = cfg.longRun.maxDocsPerGram, salts = cfg.longRun.salts),
          (p: DataFrame) => p))
      ).flatten.map { case (kind, out, toEdges) => (kind, out.persist(), toEdges) }
      // the (small) stage outputs are persisted so the edges and the
      // skip sums share one shuffle; released once the table is staged
      persisted = (sigsMh.toSeq ++ sigsSh.toSeq).distinct ++ stages.map(_._2)
      val edgeRows = aliases +: exactEdges +: stages.map { case (kind, out, toEdges) =>
        toEdges(out.filter(col("src").isNotNull).select("src", "dst"))
          .select(col("src"), col("dst"), lit(kind).as("kind"))
      }
      val skipRows = stages.map { case (kind, out, _) => out
        .filter(col("src").isNull)
        .agg(coalesce(sum(col("skipped")), lit(0L)).as("skipped"))
        .select(lit(null).cast("string").as("src"), lit(null).cast("string").as("dst"),
          lit(s"skip:$kind").as("kind"), col("skipped")) }
      (edgeRows.map(_.withColumn("skipped", lit(0L))) ++ skipRows)
        .reduce(_ unionByName _)
    }
    // ONE materialization of the whole edge dag; no persisted frame
    // outlives the call (r2 VERDICT #2)
    val staged = catalog.fold(edgeTable().localCheckpoint())(_.stage("edges", base)(edgeTable()))
    persisted.foreach(_.unpersist())
    val edges = staged.filter(!col("kind").startsWith("skip:")).drop("skipped")
    lazy val skippedCounts = staged.filter(col("kind").startsWith("skip:"))
      .select(col("kind"), col("skipped")).collect()
      .map(r => r.getString(0).stripPrefix("skip:") -> r.getLong(1)).toMap

    // [EXT] connected components over the edge table; singletons keep
    // their own id
    def clusterTable(): DataFrame = {
      val cc = ConnectedComponents.run(edges.select("src", "dst"))
      valid.select(col("url"))
        .join(cc, valid("url") === cc("id"), "left")
        .select(col("url"), coalesce(col("component"), col("url")).as("cluster_id"))
    }
    val clusters = catalog.fold(clusterTable())(_.stage("clusters", base + "|edges")(clusterTable()))

    // the deduped corpus itself (one row per cluster canonical), laid
    // out by the north rule's (days(warc_ts), lang) partitioning —
    // partition pruning serves day- or language-scoped downstream reads
    // without a full scan
    val deduped = catalog.map { cat =>
      val d = cat.stage("deduped_docs", base + "|clusters", Seq("warc_day", "lang")) {
        valid
          .join(clusters.filter(col("url") === col("cluster_id")).select("url"), "url")
          .withColumn("warc_day", to_date(col("warc_ts")))
      }
      cat.recordMetrics("clusters", Map(
        "clusters" -> clusters.select(col("cluster_id")).distinct().count(),
        "edges" -> edges.count()) ++
        skippedCounts.map { case (k, v) => s"skipped_bucket_rows_$k" -> v })
      d
    }
    new Result(clusters, exact, edges, quarantined, () => docsRaw.count(),
      () => skippedCounts, deduped)
  }
}
