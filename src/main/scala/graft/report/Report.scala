package graft.report

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Url identity normalization — the web-corpus analog of the
  * reference's inode identity (hardlinks, Files.pm:225, SURVEY §2.3
  * F3): strips fragment, utm_* query junk, a then-empty '?', and a
  * trailing slash. Two urls with equal normalized form are aliases of
  * one stored page.
  */
object Urls {
  def normalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noUtm = regexp_replace(noFrag, "([?&])utm_[^&#]*", "$1")
    val noDangling = regexp_replace(noUtm, "[?&]+$", "")
    regexp_replace(noDangling, "/$", "")
  }
}

/** Report + statistics operators (reference CLI layer, SURVEY §2.6).
  */
object Report {

  /** Identity groups — all urls per normalized url (reference
    * `hardlinks`, Files.pm:341, op A5).
    */
  def identityGroups(docs: DataFrame, idCol: String = "url"): DataFrame =
    docs.groupBy(Urls.normalize(col(idCol)).as("identity"))
      .agg(sort_array(collect_list(col(idCol))).as("aliases"))

  /** Identity alias edges (F3): (src = alias loser, dst = canonical,
    * kind = 'alias') for every url whose normalized form it shares with
    * an alphabetically smaller url — canonical = alphabetical min, the
    * reference CLI's resolve_hardlinks rule (CLI.pm:282). Pure
    * recompute, no mutation (vs Files.pm:309-315).
    *
    * Scale shape: groupBy+join min over a NARROW (url, identity)
    * projection, not a window (de-skew: a hot identity — one url with
    * millions of alias fetches — would sort its whole group in ONE
    * window task; the aggregate partial-combines map-side and AQE
    * splits the join). The output is the (rare) loser set only.
    */
  def aliasEdges(docs: DataFrame, idCol: String = "url"): DataFrame = {
    val keyed = docs.select(col(idCol).as("url"), Urls.normalize(col(idCol)).as("identity"))
    keyed.join(keyed.groupBy(col("identity")).agg(min(col("url")).as("canonical")),
        Seq("identity"))
      .filter(col("url") =!= col("canonical"))
      .select(col("url").as("src"), col("canonical").as("dst"), lit("alias").as("kind"))
  }

  /** Identity pre-pass (F3): one canonical row per normalized url —
    * full rows anti-joined against the alias losers of `aliases`
    * (default: [[aliasEdges]] of `docs`; the pipeline passes its
    * materialized copy). AQE turns it into a broadcast anti-join, so
    * page bytes never enter a shuffle.
    */
  def dedupIdentity(docs: DataFrame, idCol: String = "url",
      aliases: Option[DataFrame] = None): DataFrame =
    docs.join(aliases.getOrElse(aliasEdges(docs, idCol)).select(col("src").as(idCol)),
      Seq(idCol), "left_anti")

  /** The reference report (P2, CLI.pm:296-310): duplicate groups only,
    * members tab-joined, sorted within the line and across lines —
    * golden fixture CLI.t:74-78. Input: blocks with a `members`
    * array<string> column.
    */
  def duplicateReport(blocks: DataFrame): DataFrame =
    blocks.filter(size(col("members")) > 1)
      .select(concat_ws("\t", sort_array(col("members"))).as("line"))
      .orderBy(col("line"))

  /** Summary counts (A8, CLI.pm:313-321): unique = 1-member groups,
    * distinct = multi-member groups, duplicate = Σ (size − 1).
    */
  def summary(blocks: DataFrame): DataFrame =
    blocks.agg(
      sum(when(size(col("members")) === 1, 1L).otherwise(0L)).as("unique_count"),
      sum(when(size(col("members")) > 1, 1L).otherwise(0L)).as("distinct_count"),
      sum(when(size(col("members")) > 1, size(col("members")).cast("long") - 1L)
        .otherwise(0L)).as("duplicate_count"))

  /** "Fuzzy-exact" dedup at NORMALIZED-text grain (the Dolma/CCNet
    * normalize-then-hash policy: lowercase, collapse whitespace, trim
    * — [[graft.text.TextStats.fingerprintMd5]]): case and whitespace
    * variants that the byte-exact digest cascade treats as distinct
    * collapse to one canonical (min id) here. (id, canon_id, is_dup)
    * per non-null-text doc. Scale shape: map-only fingerprint, ONE
    * map-side-combinable min agg on the 16-byte hash, one hash join
    * back — text never shuffles, no window sort.
    */
  def dedupNormalized(docs: DataFrame, idCol: String = "url",
      textCol: String = "text"): DataFrame = {
    val n = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.text.TextStats.fingerprintMd5(col(textCol)).as("h"))
    val canon = n.groupBy(col("h")).agg(min(col("id")).as("canon_id"))
    n.join(canon, Seq("h"))
      .select(col("id"), col("canon_id"),
        (col("id") =!= col("canon_id")).as("is_dup"))
  }

  /** URL-revisit dedup — the Common Crawl recrawl policy: ONE
    * surviving fetch per CANONICAL url ([[graft.text.UrlNorm
    * .canonicalUrl]]), the max-(ts, id) one (latest fetch wins; id
    * breaks exact-timestamp ties deterministically). Emits
    * (url_canon, keep_id, n_fetches, last_ts). Scale shape: ONE
    * map-side-combinable max-struct per canonical url (a
    * 10M-revisit front page partial-aggregates per task — the
    * KeepBest shape, no window sort); null-url rows are dropped (no
    * identity to revisit).
    */
  def latestRevisits(docs: DataFrame, urlCol: String = "url",
      tsCol: String = "warc_ts", idCol: String = "url"): DataFrame =
    docs.filter(col(urlCol).isNotNull)
      .groupBy(graft.text.UrlNorm.canonicalUrl(col(urlCol)).as("url_canon"))
      .agg(max(struct(col(tsCol).as("ts"), col(idCol).as("id"))).as("k"),
        count(lit(1)).as("n_fetches"))
      .select(col("url_canon"), col("k.id").as("keep_id"),
        col("n_fetches"), col("k.ts").as("last_ts"))

  /** Human-readable byte counts (CLI.pm:42-67) — driver-side helper. */
  def humanBytes(n: Long): String = {
    val units = Seq("B", "KiB", "MiB", "GiB", "TiB", "PiB")
    var v = n.toDouble; var u = 0
    while (v >= 1024 && u < units.length - 1) { v /= 1024; u += 1 }
    if (u == 0) s"$n B" else f"$v%.1f ${units(u)}"
  }
}
