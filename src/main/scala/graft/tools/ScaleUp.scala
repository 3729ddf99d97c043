package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch: synthesize a LOCAL 10× blow-up of the driver corpus so the
  * scaling harness gets a FOURTH point (sf0.001 → 0.01 → 0.1 → "sf1").
  * Harness-only data — never oracle input: the driver's DuckDB gate keeps
  * running on its own parquet; this corpus exists purely to measure how
  * the worst-exponent plans grow over one more decade.
  *
  * Synthesis preserves the statistical structure the measured plans are
  * sensitive to, copy by copy (i = 0 is the untouched base corpus):
  * - `customer`: keys shifted by i·(max+1), names re-derived from the new
  *   key with the corpus's own Customer#%09d pattern (the sparsifier
  *   family structure is residue-based, so shifted keys keep the
  *   log-depth descent shape at 10× the vertices).
  * - `lineitem`: order keys shifted; measures (flag, price, quantity)
  *   kept verbatim, so per-group distributions are identical at 10×.
  * - `documents`: ids shifted and the TEXT Caesar-rotated per copy
  *   (translate over both alphabet cases). Rotation keeps every length,
  *   token boundary, and intra-copy duplicate relationship bit-structural
  *   while making copies mutually dissimilar — the duplicate RATE stays
  *   constant as the corpus grows, which is what a real crawl does; plain
  *   duplication would instead explode cross-copy near-dup pairs
  *   quadratically and measure an artifact, not the plan. */
object ScaleUp {
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  private def rot(s: String, i: Int): String =
    s.drop(i % s.length) + s.take(i % s.length)

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.Session.local(32)

    def blow(name: String, keyCol: String,
             perCopy: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      val span = base.agg(max(col(keyCol))).head().getLong(0) + 1L
      val out = (0 until copies).map { i =>
        perCopy(base.withColumn(keyCol, col(keyCol) + lit(i * span)), i)
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name: ${base.count()} -> ${out.count()} rows")
    }

    blow("customer", "c_custkey", (df, _) =>
      df.withColumn("c_name",
        concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 9, "0"))))
    blow("lineitem", "l_orderkey", (df, _) => df)
    blow("documents", "doc_id", (df, i) =>
      df.withColumn("text",
        translate(col("text"), Lower + Upper, rot(Lower, i) + rot(Upper, i))))
    // events: ids shifted, timestamps kept — the day span stays 30 days at
    // 10x the density, which is what a growing fact table actually does
    // (the partition count is time's, not the data's).
    blow("events", "event_id", (df, _) => df)
    spark.stop()
  }
}
