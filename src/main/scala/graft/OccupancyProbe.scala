package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev/evidence main (r14 judge #2): measures the POSTING/BUCKET
  * occupancy that drives the two superlinear-shuffle rows
  * (`dedup_prefix_join`, `index_build_dedup`), so the "candidate volume
  * degrades to linear once most postings/buckets cross their caps" claim
  * is arithmetic over measured counts instead of extrapolation.
  *
  * For each corpus dir passed as an arg it prints one JSON line with,
  * per structure (prefix postings at cap 256; LSH band buckets at cap
  * 64):
  *  - `n`            — number of postings/buckets
  *  - `over_cap`     — how many exceed their cap
  *  - `occ_over_pct` — percent of OCCURRENCES (Σ size) in over-cap
  *                     postings/buckets (the saturation fraction)
  *  - `vol_uncapped` — Σ size·(size−1)/2: the within-bucket pair volume
  *                     an UNGUARDED join would generate
  *  - `vol_capped`   — Σ [size ≤ cap] size·(size−1)/2 + [size > cap]
  *                     (size−1): what the anchor-star guard actually
  *                     generates
  * Growth of `vol_capped` across scale decades is the measured form of
  * the shuffle-byte trajectory: while buckets straddle the cap the ratio
  * can exceed 10×/decade (the transitional regime BENCH_sf10.json
  * documents), and as `occ_over_pct` → 100 the over-cap term (linear in
  * occurrences) dominates and growth falls back to ~10×/decade.
  *
  * Usage: runMain graft.OccupancyProbe <sfDir> [<sfDir> ...]
  */
object OccupancyProbe {

  private def stats(sizes: DataFrame, sizeCol: String, cap: Int): String = {
    // integer `div`, not `/`: the pair volumes are exact long sums
    val r = sizes.selectExpr(s"CAST($sizeCol AS BIGINT) AS sz").agg(
      count(lit(1)).as("n"),
      sum(when(col("sz") > cap, 1L).otherwise(0L)).as("over_cap"),
      sum(col("sz")).as("occ"),
      sum(when(col("sz") > cap, col("sz")).otherwise(0L)).as("occ_over"),
      expr("sum((sz * (sz - 1)) div 2)").as("vol_uncapped"),
      expr(s"sum(CASE WHEN sz <= $cap THEN (sz * (sz - 1)) div 2" +
        " ELSE sz - 1 END)").as("vol_capped"))
      .collect().head
    val occ = r.getAs[Long]("occ").toDouble
    // log2 size histogram: "2^k" -> posting/bucket count in [2^k, 2^k+1)
    val hist = sizes
      .selectExpr(s"CAST(floor(log2($sizeCol)) AS INT) AS b")
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .orderBy(col("b")).collect()
      .map(h => s""""2^${h.getInt(0)}":${h.getLong(1)}""")
      .mkString("{", ",", "}")
    s"""{"cap":$cap,"n":${r.getAs[Long]("n")},""" +
      s""""over_cap":${r.getAs[Long]("over_cap")},""" +
      s""""occ_over_pct":${math.round(
        r.getAs[Long]("occ_over") / math.max(occ, 1.0) * 1000) / 10.0},""" +
      s""""vol_uncapped":${r.getAs[Long]("vol_uncapped")},""" +
      s""""vol_capped":${r.getAs[Long]("vol_capped")},""" +
      s""""size_hist_log2":$hist}"""
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: OccupancyProbe <sfDir> [<sfDir> ...]")
    val spark = GraftSession.local("graft-occupancy",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    args.foreach { dir =>
      val prefix = stats(
        graft.operators.Dedup.prefixPostings(spark, dir), "pdf", 256)
      val bands = stats(
        graft.operators.Dedup.bandBuckets(spark, dir), "bn", 64)
      println(s"""{"sf_dir":"$dir","prefix_postings":$prefix,""" +
        s""""band_buckets":$bands}""")
      Artifacts.release(spark, Some(dir), Some(graft.operators.Dedup.Owner))
    }
    spark.stop()
  }
}
