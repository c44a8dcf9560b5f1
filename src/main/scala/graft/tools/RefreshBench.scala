package graft.tools

import graft.Tables
import graft.operators.{CoPurchase, PageRank}
import org.apache.spark.sql.functions._

/** Measures incremental co-purchase edge refresh against a full rebuild
  * (the SCALE.md delta-refresh row): splits the fact by order key into a
  * 98% base + 2% delta, materializes the base edge table as parquet (the
  * nightly-build artifact), then times (a) a full rebuild over the whole
  * fact vs (b) edgeDelta + union against the stored table. The claim
  * under test: refresh cost scales with the DELTA, not the corpus.
  *
  * Args: [dir] (default tmp/sf1) [deltaMod] (default 50 = 2% of orders).
  */
object RefreshBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("tmp/sf1")
    val mod = if (args.length > 1) args(1).toInt else 50
    val spark = graft.Session.get()

    val li = Tables.lineitem(spark, dir)
    val base = li.filter(col("l_orderkey") % mod =!= 0)
    val delta = li.filter(col("l_orderkey") % mod === 0)
    val edgeDir = java.nio.file.Files
      .createTempDirectory("refresh-edges").toString

    def timed(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"refresh: $tag%-22s rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }

    // the nightly artifact: base edges written once (cost reported too)
    timed("base_build+write") {
      PageRank.edgesFromItems(CoPurchase.itemsOf(base))
        .write.mode("overwrite").parquet(edgeDir)
      spark.read.parquet(edgeDir).count()
    }
    val existing = spark.read.parquet(edgeDir)
    timed("full_rebuild") {
      PageRank.edgesFromItems(CoPurchase.itemsOf(li))
        .write.format("noop").mode("overwrite").save()
      -1L
    }
    timed("delta_refresh") {
      CoPurchase.refreshedEdges(existing, delta)
        .write.format("noop").mode("overwrite").save()
      -1L
    }
    timed("delta_edges_only") {
      CoPurchase.edgeDelta(existing, delta).count()
    }
    graft.Fs.deleteRec(java.nio.file.Paths.get(edgeDir))
    spark.stop()
  }
}
