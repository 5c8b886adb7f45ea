package graft.tools

import org.apache.spark.sql.functions._

/** Scale-rehearsal timer for the incremental IVF append (the 100 TB
  * operational shape: the corpus grows daily; the index must grow by
  * O(delta), not rebuild at O(corpus)). Splits the dir's embeddings
  * 95/5, builds the index on the 95%, then times appending the 5%
  * delta vs rebuilding from scratch on the full corpus — the ratio is
  * the daily operational saving the marker-commit protocol buys.
  *
  * Usage: runMain graft.tools.AppendScale <sfDir-or-scaled-dir>
  */
object AppendScale {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val emb = graft.Tables.embeddings(spark, args.head)
    val base = emb.where(pmod(col("vec_id"), lit(20L)) =!= 0L)
    val delta = emb.where(pmod(col("vec_id"), lit(20L)) === 0L)
    val (nBase, nDelta) = (base.count(), delta.count())
    def timed(what: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"TIMING $what $s%.2f s")
      s
    }
    val dir = java.nio.file.Files.createTempDirectory("appendscale").toString
    val buildS = timed(s"ivf_build_base n=$nBase") {
      graft.operators.Ann.buildIvfIndex(base, "vec_id", "embedding", dir,
        nCentroids = 256, seed = 42L, distributedFit = true)
    }
    val appendS = timed(s"ivf_append_delta n=$nDelta") {
      graft.operators.Ann.appendIvfShard(delta, "vec_id", "embedding", dir)
    }
    val dir2 = java.nio.file.Files.createTempDirectory("appendscale2").toString
    val rebuildS = timed(s"ivf_rebuild_full n=${nBase + nDelta}") {
      graft.operators.Ann.buildIvfIndex(emb, "vec_id", "embedding", dir2,
        nCentroids = 256, seed = 42L, distributedFit = true)
    }
    println(f"APPEND_SCALE delta_frac=${nDelta.toDouble / (nBase + nDelta)}%.3f " +
      f"append_s=$appendS%.2f rebuild_s=$rebuildS%.2f " +
      f"saving=${rebuildS / appendS}%.1fx (build_base_s=$buildS%.2f)")
    spark.stop()
  }
}
