package graft

import org.apache.spark.sql.SparkSession

/** Recommended session wiring for graft deployments.
  *
  * Local mode: pass `local[N]` and shuffle partitions ≈ N. Cluster mode:
  * leave master to spark-submit and size `shufflePartitions` to ~2-3× total
  * executor cores (or rely on AQE coalescing, which is enabled here). The
  * graft SQL functions are registered via [[GraftExtensions]].
  */
object GraftSession {

  def builder(
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession.Builder =
    base(appName, shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .withExtensions(new GraftExtensions)

  /** The settings every graft session shares; the only
    * `SparkSession.builder()` call in the library. */
  private def base(appName: String, shufflePartitions: String) =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")

  /** The one session every `graft.*` command-line tool runs on:
    * `local[N]` with N shuffle partitions, N from `SPARK_GRAFT_CPUS`
    * (default 4), UTC, no UI, log level WARN. Graft's SQL functions are
    * not injected; callers that need them register post hoc
    * ([[GraftExtensions.register]]).
    *
    * The codegen cache is sized at session build (a static conf). The
    * default 100-entry LRU thrashes: one manifest lifecycle query
    * generates ~90+ codegen units per rep (setup + timed region exceed
    * 100), so IDENTICAL generated code recompiled on every rep —
    * measured 96 Janino compilations per manifest_mv rep at the default
    * vs 0 on reps 2+ with the cache sized right. Scale-free: bounded
    * driver memory (generated classes, ~KBs each) for compile-once
    * semantics — the same trade at any data size or core count; a
    * 100 TB driver running many commits per session needs it more, not
    * less. */
  private[graft] def tool(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = base(appName, cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm-up before a timed tool run, so the first timed query of each
    * plan-shape family doesn't absorb one-time JVM/JIT/codegen startup:
    * one action through the parquet read + aggregate path, then the
    * flagship upsert on the TINY sf0.001 fixture — which Janino-compiles
    * the parser expression family shared by the whole upsert group.
    * Failures are logged under the session's app name, never fatal. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    val tag = spark.sparkContext.appName
    try spark.read.parquet(s"$sfDir/customer.parquet")
      .selectExpr("count(distinct c_custkey)").collect()
    catch { case e: Throwable =>
      System.err.println(s"[$tag] warmup read failed: ${e.getMessage}") }
    try SparkEntry.entry(spark).count()
    catch { case e: Throwable =>
      System.err.println(s"[$tag] warmup entry failed: ${e.getMessage}") }
  }
}
