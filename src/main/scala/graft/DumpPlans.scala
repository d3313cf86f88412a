package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dumps the formatted physical plans of declared queries into one
  * markdown file, a section per query — PLANS.md (the headline list
  * below, the written evidence for the plan-shape audits: pushdown,
  * codegen, join strategies) and the per-round before/after plan
  * evidence the optimization rounds commit under plans/rNN/. Eager query
  * closures (manifest lifecycle ops) run their side effects while
  * building the final frame; the dumped plan is the query's RETURNED
  * read, which is the driver-contract surface — plus, for the queries in
  * [[eagerWrites]], the plan of the last write the closure ran. A query
  * that fails is recorded in its section and the dump goes on.
  * The output is reproducible: fixture tables live under one fixed
  * directory (not the checkout), and each section renumbers its
  * run-dependent ids ([[normalize]]), so a diff of two dumps shows only
  * plan changes. Usage:
  *   runMain graft.DumpPlans [out.md] [query,...]
  * (default PLANS.md and the headline list; SPARK_GRAFT_SF_DIR, default
  * sf0.001, and SPARK_GRAFT_CPUS, default 4, as in Bench — PLANS.md is
  * generated with both defaults.)
  */
object DumpPlans {
  private val headline: Seq[String] = Seq("upsert_basic", "upsert_skew",
    "pricing_summary", "dedup_minhash", "ann_lsh", "ann_ivf", "ann_pq",
    "csv_source", "csv_multiline", "sessionize", "asof_join",
    "curate_corpus", "manifest_scan_pruned", "manifest_bucket_join",
    "manifest_zone_clustered", "manifest_catalog",
    "manifest_probe_join", "manifest_probe_join_auto",
    "manifest_index_probe_auto", "manifest_index_filter_auto",
    "manifest_zorder", "manifest_count", "manifest_minmax",
    "manifest_recluster", "manifest_auto_recluster",
    "manifest_sql_merge_path", "manifest_delete_delta",
    "manifest_bucket_split", "manifest_auto_compact", "manifest_merge_branch",
    "manifest_tag", "manifest_clone", "manifest_analyze",
    "manifest_constraint",
    "warc_source", "text_html", "manifest_delete_where",
    "manifest_evolve_drop", "url_normalize", "quality_classifier",
    "bm25_search", "manifest_ttl", "html_noindex", "orc_source",
    "avro_source", "robots_gate", "content_sniff",
    "sitemap_source", "text_clean",
    // the iterative dup_components / pagerank_hosts return
    // eagerly-checkpointed frames whose dump would show only the
    // checkpoint scan; their per-round join shape is documented +
    // spec-pinned instead
    "html_links", "blocklist_gate", "crawl_frontier", "manifest_merge")

  /** Queries whose section also shows the last data-file write they
    * ran: the merge's own plan, which its returned read does not show. */
  private val eagerWrites: Set[String] = Set("manifest_merge")

  /** Fixed fixture directory, the same in every checkout. */
  private val fixtures =
    s"${System.getProperty("java.io.tmpdir")}/graft-plans"

  /** Renumbers what differs between two runs of the same plan: `#n`
    * expression ids, `plan_id=n`, `RDD[n]`, `v<version>-<attempt>`
    * directory names and UUIDs (observation names), each in order of
    * first appearance; drops the line numbers of RDD call sites. */
  private[graft] def normalize(plan: String): String = {
    def renumber(text: String, re: scala.util.matching.Regex,
        fmt: Int => String): String = {
      val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      re.replaceAllIn(text, m => scala.util.matching.Regex.quoteReplacement(
        fmt(ids.getOrElseUpdate(m.group(1), ids.size + 1))))
    }
    Seq[(scala.util.matching.Regex, Int => String)](
      ("#(\\d+)".r, i => s"#$i"),
      ("plan_id=(\\d+)".r, i => s"plan_id=$i"),
      ("RDD\\[(\\d+)\\]".r, i => s"RDD[$i]"),
      ("(?<=/v\\d{1,9}-)([0-9a-f]{12})".r, i => s"attempt$i"),
      ("([0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12})".r, i => s"uuid$i")
    ).foldLeft("(?<=\\.scala):\\d+".r.replaceAllIn(plan, "")) {
      case (t, (re, f)) => renumber(t, re, f) }
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "PLANS.md"
    val names =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else headline
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.tool("plans")
    SparkEntry.fixtureDir = fixtures
    // the last data-file write each eagerWrites query runs
    var lastWrite: Option[org.apache.spark.sql.execution.QueryExecution] =
      None
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit =
          if (qe.executedPlan.toString.matches(
              "(?s).*InsertIntoHadoopFsRelationCommand \\S*/data/v.*"))
            lastWrite = Some(qe)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of declared queries\n\n")
    sb.append(s"Generated by `graft.DumpPlans` at $sfDir on " +
      s"${spark.sparkContext.master}. Things to check:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `*(n)` codegen\n")
    sb.append("spans, join strategies (no cartesian), exchange counts.\n")
    names.foreach { name =>
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
      lastWrite = None
      val plan =
        try {
          val read = SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(FormattedMode)
          org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
          read + lastWrite.filter(_ => eagerWrites(name)).map(w =>
            "\n== Last data write ==\n" + w.explainString(FormattedMode))
            .getOrElse("")
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
          s"FAILED: ${e.getMessage}\n"
        }
      sb.append(s"\n## $name\n\n```\n").append(normalize(plan))
        .append("```\n")
    }
    Option(Paths.get(out).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(out), sb.toString)
    spark.stop()
  }
}
