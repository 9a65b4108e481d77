package graft

import org.apache.spark.sql.functions.col

import graft.operators.TextDedup

/** Deterministic combo censuses of the two dedup candidate self-joins at
  * their catalog parameters — counts that hold on any host, so a change
  * to either join's image scheme is judged by arithmetic before any wall:
  *
  *   - `cand_census` — the d_ngram_jaccard length-blocked join
  *     ([[TextDedup.ngramCandCensus]]): scanCombos, maxBlock
  *   - `sim_census[:B:H]` — the d_simhash banded self-join
  *     ([[TextDedup.simhashCensus]]): buckets, scanCombos, pairCombosX,
  *     maxBucketX, maxBucketY; `:B:H` overrides the geometry to B bands
  *     of 64/B bits at Hamming ≤ H (the catalog row is 16:15)
  *
  * Usage: runMain graft.NgramWallSmoke <dir> <stage,stage,...>
  */
object NgramWallSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.core.GraftSession.local(appName = "graft-ngram-wall")
    val docs = graft.core.Tables.documents(spark, dir)
    def show(label: String, r: org.apache.spark.sql.Row): Unit =
      println(s"[ngramwall] $label " + r.schema.fieldNames.zip(r.toSeq)
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
    args(1).split(",").foreach { st =>
      st.split(":") match {
        case Array("cand_census") =>
          show("cand_census", TextDedup.ngramCandCensus(docs, "doc_id", "text",
            col("n_chars"), n = 4, blockWidth = 20))
        case Array("sim_census", geometry @ _*) =>
          val (bands, hamm) = geometry match {
            case Seq(b, h) => (b.toInt, h.toInt)
            case _         => (16, 15)
          }
          show(s"sim_census:$bands:$hamm", TextDedup.simhashCensus(docs,
            "doc_id", "text", shingleN = 3, maxHamming = hamm,
            numBands = bands, minShingles = 32))
        case _ => println(s"[ngramwall] unknown stage: $st")
      }
    }
    spark.stop()
  }
}
