package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver testdata directory: replicates each
  * table `factor` times with key offsets, producing an sf1-shaped dataset
  * from sf0.1 for the scale-validation benchmark ([[Bench]] at
  * `target/testdata/sf1`). Copy 0 is byte-identical to the source, so
  * every fixed-key fixture (the 13·k delete list, the custkey≤N fixed
  * batch) selects exactly the same rows at every scale.
  *
  * Determinism: no clock, no RNG — every perturbed value derives from
  * xxhash64(id, copy, position). The key offset per copy is
  * [[MakeScale.Off]] = lcm(2,3,4,5,7,10,11,13,17,20,40,97,100) — a
  * multiple of every modulus any query predicate applies to an id column
  * — so `key % m` classes, and with them every query's selectivity and
  * the upsert source/target overlap structure, are preserved copy-for-
  * copy. Foreign keys offset by the same constant stay consistent within
  * a copy (customer 7 of copy 3 is referenced by copy-3 orders only).
  *
  * Copies >0 perturb VALUE columns so the scaled data isn't degenerate
  * for the similarity family:
  *  - document text: every 8th token (phase-shifted by copy) is replaced
  *    by a hash token, pushing cross-copy shingle Jaccard far below the
  *    near-dup threshold — without this, every doc gains 9 exact dups
  *    and the dedup benchmarks measure the cap path, not the corpus.
  *  - embeddings: per-element additive noise at ~0.7× the vector's RMS
  *    (cosine vs the original ≈0.93 in expectation), so semantic
  *    structure persists but copies aren't trivial duplicates.
  *  - customer acctbal: ±10.00 hash jitter (2-decimal aligned) so
  *    per-copy segment aggregates differ.
  *
  * The events table's `ts` column is copied verbatim: whatever physical
  * timestamp form the source fixture has (INT64 nanos or
  * TIMESTAMP(MICROS) read as TIMESTAMP_NTZ), the copy round-trips the
  * same values and [[SparkEntry.events]] branches on the read schema.
  *
  * Usage: runMain graft.MakeScale [srcDir] [outDir] [factor] on
  * [[GraftSession.tool]]; the sf1 fixture behind BENCH_SF1.json was
  * made at SPARK_GRAFT_CPUS=32 (the rows written do not depend on it;
  * their order across files may).
  */
object MakeScale {

  /** lcm(2,3,4,5,7,10,11,13,17,20,40,97,100) = 2^3·3·5^2·7·11·13·17·97. */
  val Off: Long = 990389400L

  /** Uniform in [-1, 1], deterministic in the hashed columns. */
  private def u(cols: org.apache.spark.sql.Column*) =
    pmod(xxhash64(cols: _*), lit(2000001L)).cast("double") / 1000000.0 - 1.0

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/testdata/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.tool("make-scale")

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    /** Union of `factor` copies of `df`, each transformed by `per(df, i)`. */
    def copies(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => per(df, i)).reduce(_ unionAll _)

    def off(c: String, i: Int) = col(c) + lit(i.toLong * Off)

    def write(df: DataFrame, name: String, files: Int): Unit = {
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[make-scale] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }

    // tiny dims: copied as-is (they are lookup tables, not fact tables)
    write(src("region"), "region", 1)
    write(src("nation"), "nation", 1)

    write(copies(src("customer")) { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("c_custkey", off("c_custkey", i))
        // 2-decimal-aligned jitter in [-10.00, 10.00]
        .withColumn("c_acctbal", col("c_acctbal") +
          (pmod(xxhash64(col("c_custkey"), lit(i)), lit(2001L)) - 1000L)
            .cast("double") / 100.0)
    }, "customer", 4)

    write(copies(src("supplier")) { (df, i) =>
      if (i == 0) df else df.withColumn("s_suppkey", off("s_suppkey", i))
    }, "supplier", 1)

    write(copies(src("part")) { (df, i) =>
      if (i == 0) df else df.withColumn("p_partkey", off("p_partkey", i))
    }, "part", 2)

    write(copies(src("orders")) { (df, i) =>
      if (i == 0) df
      else df.withColumn("o_orderkey", off("o_orderkey", i))
        .withColumn("o_custkey", off("o_custkey", i))
    }, "orders", 8)

    write(copies(src("lineitem")) { (df, i) =>
      if (i == 0) df
      else df.withColumn("l_orderkey", off("l_orderkey", i))
        .withColumn("l_partkey", off("l_partkey", i))
        .withColumn("l_suppkey", off("l_suppkey", i))
    }, "lineitem", 16)

    // events: same time window at factor× volume — user/event ids offset,
    // so sessionization sees factor× users with the original cadence.
    write(copies(src("events")) { (df, i) =>
      if (i == 0) df
      else df.withColumn("event_id", off("event_id", i))
        .withColumn("user_id", off("user_id", i))
    }, "events", 8)

    write(copies(src("documents")) { (df, i) =>
      if (i == 0) df
      else {
        val perturbed = array_join(
          zip_with(
            split(col("text"), " "),
            sequence(lit(0), greatest(size(split(col("text"), " ")), lit(1)) - 1),
            (t, idx) => when(pmod(idx + lit(i), lit(8)) === 0,
              concat(lit("x"),
                substring(md5(concat_ws("_", col("doc_id"), lit(i), idx)), 1, 6)))
              .otherwise(t)),
          " ")
        df.withColumn("doc_id", off("doc_id", i))
          .withColumn("text", perturbed)
          .withColumn("n_chars", length(perturbed))
      }
    }, "documents", 4)

    write(copies(src("embeddings")) { (df, i) =>
      if (i == 0) df
      else {
        val rms = sqrt(
          aggregate(col("embedding"), lit(0.0d),
            (a, x) => a + x.cast("double") * x.cast("double")) /
            greatest(size(col("embedding")), lit(1)).cast("double"))
        df.withColumn("vec_id", off("vec_id", i))
          .withColumn("embedding",
            zip_with(col("embedding"),
              sequence(lit(0), greatest(size(col("embedding")), lit(1)) - 1),
              (x, idx) => (x.cast("double") + lit(0.7) * rms *
                u(col("vec_id"), lit(i), idx)).cast("float")))
      }
    }, "embeddings", 2)

    spark.stop()
  }
}
