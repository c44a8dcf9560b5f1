package graft.tools


/** Ad-hoc SQL timer for plan experiments: registers the test tables from
  * a data dir as temp views, runs one SQL statement N times through the
  * noop sink, printing each run's seconds. Args: <dir> <n> <sql>.
  */
object RunSql {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val n = args(1).toInt
    val sql = args(2)
    val spark = graft.Session.get()
    graft.Tables.registerAll(spark, dir)
    for (i <- 1 to n) {
      val t0 = System.nanoTime()
      spark.sql(sql).write.format("noop").mode("overwrite").save()
      println(f"runsql: run$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
