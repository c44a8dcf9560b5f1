package graft.tools

import graft.{Sentinel, Session}

/** Ad-hoc multi-query timer: runs the named SparkEntry queries ONCE
  * each, in order, in one JVM through the Bench noop-sink methodology
  * (construction inside the timed window, cache teardown between
  * queries) — for A/B-ing a shared-derivation change across the set of
  * queries that shares it, without a full Bench run. Repeat a name
  * (`q,q,q`) to time its cold and settled runs in one JVM; each run
  * prints its HotSpot JIT ms, whole-stage-codegen compile count (=
  * codegen-cache misses) and once-per-JVM build seconds.
  *
  * Args: <q1,q2,...> [dir]
  */
object QuerySeq {
  def main(args: Array[String]): Unit = {
    val qs = args(0).split(',').toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Session.get()
    // SPARK_GRAFT_STAGES=1: per-stage wall + executor CPU/GC telemetry
    // for stages over 1 s — the in-bench degradation debugger (r15)
    if (sys.env.contains("SPARK_GRAFT_STAGES"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val ms = (for {
              a <- i.completionTime; b <- i.submissionTime
            } yield a - b).getOrElse(0L)
            if (ms > 1000) {
              val m = i.taskMetrics
              println(f"  [stage ${i.stageId}%4d] ${ms / 1000.0}%7.1f s wall  " +
                f"cpu ${m.executorCpuTime / 1e9}%7.1f  run ${m.executorRunTime / 1e3}%7.1f  " +
                f"gc ${m.jvmGCTime / 1e3}%6.1f  tasks=${i.numTasks}")
            }
          }
        })
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    def gcMs: Long = {
      var s = 0L
      gcBeans.forEach(b => s += b.getCollectionTime)
      s
    }
    var total = 0.0
    qs.foreach { q =>
      val g0 = gcMs
      val jit0 = Sentinel.jitMs()
      val cg0 = Sentinel.codegenCompiles()
      val b0 = graft.operators.BuildMeter.seconds
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      total += s
      // jit_ms reads "null" on a JVM without compilation-time monitoring
      val jitD = Sentinel.jitDeltaJson(jit0, Sentinel.jitMs())
      val cgD = Sentinel.codegenCompiles() - cg0
      val bD = graft.operators.BuildMeter.seconds - b0
      val (ccU, ccM) = Sentinel.codeCacheMb()
      println(f"[queryseq] $q%-24s $s%8.2f s  (build $bD%.3f s; " +
        f"jit_ms=$jitD codegen_compiles=$cgD; driver gc ${(gcMs - g0) / 1000.0}%5.1f s; " +
        f"code cache $ccU%.0f/$ccM%.0f MB)")
      // full Bench teardown (r18): the first sf10 watchlist sweep ran 14
      // heavy queries in one JVM with only unpersist+releaseAll —
      // iterative lanes' checkpoint generations and dead broadcast/
      // shuffle debris accumulated until the tail lanes measured the
      // debris, not themselves (q_wand's second run read 2.5× its
      // first). One explicit GC so the ContextCleaner's weak refs fire.
      Session.release(spark)
      System.gc()
    }
    println(f"[queryseq] TOTAL ${total}%.2f s")
    spark.stop()
  }
}
