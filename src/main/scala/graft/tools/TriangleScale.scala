package graft.tools


/** Scale study for the batched triangle closure: times
  * Triangles.perNode at a given dir and batch count, reporting the
  * total triangle-participation checksum so runs are comparable.
  * Args: <dir> <batches> [n]. */
object TriangleScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val batches = args(1).toInt
    val n = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Session.get()
    import spark.implicits._
    for (i <- 1 to n) {
      val t0 = System.nanoTime()
      val und = graft.operators.PageRank.coOccurrenceEdges(
        graft.Tables.lineitem(spark, dir), $"l_orderkey", $"l_partkey",
        maxBasket = 64)
      val sum = graft.operators.Triangles.perNode(und, batches)
        .agg(org.apache.spark.sql.functions.sum($"n_triangles"))
        .head().getLong(0)
      println(f"trianglescale: dir=$dir batches=$batches run$i " +
        f"${(System.nanoTime() - t0) / 1e9}%.3f s checksum=$sum")
      graft.Session.release(spark)
      System.gc()
    }
  }
}
