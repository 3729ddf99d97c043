package graft.tools

import org.apache.spark.sql.SparkSession
import graft.ops.SimilarityOps

/** Scratch diagnostic: measured recall@k of the ANN probes against the
  * exact ranking, per scale factor — the numbers behind
  * `SimilarityOps.RecallFloor`. Usage: runMain graft.tools.RecallProbe [sfDir ...]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local(32)
    val queryIds = Seq(0L, 7L, 23L, 42L, 99L)
    for (sf <- sfs) {
      def recallsOf(probe: (SparkSession, String, Long, Int) => org.apache.spark.sql.DataFrame) =
        queryIds.map { q =>
          val exact = SimilarityOps.cosineTopK(spark, sf, q, 10).select("vec_id")
            .collect().map(_.getLong(0)).toSet
          val got = probe(spark, sf, q, 10).select("vec_id").collect().map(_.getLong(0))
          got.count(exact).toDouble / exact.size
        }
      val lsh = recallsOf(SimilarityOps.annTopK(_, _, _, _))
      val ivf = recallsOf(SimilarityOps.ivfTopK(_, _, _, _))
      val pq = recallsOf(SimilarityOps.pqTopK)
      val ivfpq = recallsOf(SimilarityOps.ivfPqTopK)
      def fmt(rs: Seq[Double]) = f"min=${rs.min}%.2f mean=${rs.sum / rs.size}%.2f"
      // Filtered ANN: recall of the label-filtered probe vs the
      // label-filtered exact ranking (certificate rows of the entry).
      val filtered = queryIds.map { q =>
        val rows = SimilarityOps.filteredTopKChecked(spark, sf, q)
          .select("recall_ge_floor").collect().map(_.getBoolean(0))
        if (rows.forall(identity)) 1.0 else 0.0
      }
      println(s"[recall] $sf lsh ${fmt(lsh)} ivf ${fmt(ivf)} pq ${fmt(pq)} ivfpq ${fmt(ivfpq)} filtered_pass=${filtered.sum}/${filtered.size}  (q=${queryIds.mkString(",")})")
    }
    spark.stop()
  }
}
