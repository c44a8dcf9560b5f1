package graft

import org.apache.spark.sql.SparkSession

/** The one session config every graft entry point runs under: Bench,
  * Verify, the tools and the test suites. A bracket, a gate and a spec
  * therefore measure and check the same session. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The confs [[builder]] sets besides the master. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // the triangle lane's broadcast-adjacency plan collects up to 50 M
    // adjacency rows (~400 MB raw, more serialized) through two
    // broadcast exchanges; the 1 g default would abort near that bound
    // instead of degrading to the shuffle plan
    "spark.driver.maxResultSize" -> "8g",
    // mid-size derived-table scans (DocTerms ≈ 100–200 MB at sf1) pack
    // into 1–2 splits at the default 128 MB, idling most cores on the
    // scan stages; 32 MB fans them out 4–8× (measured A/B at sf1: cold
    // q_bmw 191→82 s, q_wand 34→14 s, q_bm25_pruned 15→7 s; SCALE.md r17)
    "spark.sql.files.maxPartitionBytes" -> "33554432",
    // static conf: the 100-entry default codegen cache recompiles
    // stage-rich lanes every execution (see build.sbt)
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // keep codegen class names stable across AQE stage renumbering so
    // repeat executions hit the codegen cache (see build.sbt)
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** `local[cpus]` with one shuffle partition per core plus [[settings]];
    * callers may add confs of their own before [[get]]. */
  def builder(cpus: Int = Session.cpus): SparkSession.Builder =
    settings(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }

  def get(cpus: Int = Session.cpus): SparkSession = get(builder(cpus))

  /** `getOrCreate`, then WARN logging, the known-noise filter and graft's
    * plan extensions (idempotent, so a second `get` adds nothing). */
  def get(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietKnownNoise()
    plans.GraftExtensions.install(spark)
    spark
  }

  /** Per-query teardown: drop everything a finished query left pinned, so
    * the next one neither reads nor pays for it. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // the operator cache registry first; the sweep below then catches
    // anything persisted outside it (e.g. localCheckpoints)
    operators.OpCaches.releaseAll()
    // blocking: an async unpersist lets block removal bleed into the
    // next timed run; teardown cost belongs outside every timed window
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // last: a persisted frame whose lineage reads a loop-checkpoint
    // parquet becomes unrecomputable once that file is deleted, and
    // nothing from a finished query reads its generations again
    operators.Ckpt.clearAll(spark)
  }
}
