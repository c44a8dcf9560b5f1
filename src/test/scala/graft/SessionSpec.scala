package graft

import graft.operators.{Dedup, OpCaches}
import graft.plans.{RewriteTopKWindow, TopKStrategy}
import org.scalatest.funsuite.AnyFunSuite

/** The one session config: its confs, its idempotent extension install,
  * its teardown, and a source guard against hand-copied builders. */
class SessionSpec extends AnyFunSuite with SparkSpec {

  private def benchSet(n: Int) = Map(
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.maxResultSize" -> "8g",
    "spark.sql.files.maxPartitionBytes" -> "33554432",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.codegen.useIdInClassName" -> "false")

  test("builder(n) carries the bench confs with n shuffle partitions") {
    Seq(1, 8, 32).foreach(n => assert(Session.settings(n).toMap == benchSet(n)))
    assert(Session.settings(8).map(_._1).distinct.size == Session.settings(8).size)
    // and the live session built from builder(4) runs under them
    assert(spark.sparkContext.master == "local[4]")
    benchSet(4).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("get twice installs the plan extensions exactly once") {
    val a = Session.get(Session.builder(cpus = 4))
    val b = Session.get(Session.builder(cpus = 4))
    assert(a eq b)
    assert(b.experimental.extraOptimizations.count(_ == RewriteTopKWindow) == 1)
    assert(b.experimental.extraStrategies.count(_ == TopKStrategy) == 1)
  }

  test("release empties the block manager and the operator cache registry") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    // persisted through OpCaches by the LSH core ...
    val pairs = Dedup.minhashLshPairs(docs, $"text", $"doc_id",
      shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
    pairs.count()
    assert(OpCaches.trackedCount > 0)
    // ... and outside both it and the catalog cache (a raw RDD persist,
    // which clearCache cannot see)
    spark.sparkContext.parallelize(1 to 100).persist().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Session.release(spark)
    assert(OpCaches.trackedCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("no entry point builds its own session or re-installs extensions per lane") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      } finally s.close()
    }
    assert(files.exists(_.endsWith("graft/Session.scala")), s"no sources under $root")
    def read(p: java.nio.file.Path) = java.nio.file.Files.readString(p)
    val builders = files.filterNot(_.endsWith("graft/Session.scala"))
      .filter(read(_).contains("SparkSession.builder()"))
    assert(builders.isEmpty, s"SparkSession.builder() outside Session.scala: $builders")
    val entry = files.find(_.endsWith("graft/SparkEntry.scala")).get
    assert(!read(entry).contains("GraftExtensions.install("),
      "SparkEntry re-installs GraftExtensions; Session.get owns the install")
  }
}
