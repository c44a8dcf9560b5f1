package graft.tools

import org.apache.spark.sql.functions._

/** Measures the bitext-mining scale claim: the brute-force mutual-best
  * miner (BitextMine.minePairs — all-pairs within a block) against the
  * IVF-cell-BLOCKED form (minePairsBlocked — candidates form only inside
  * a cell of a quantizer trained on the union of both sides). Reports
  * wall time, pair volume actually scored, and blocked-vs-brute output
  * agreement at each SF, so "production shards by the common quantizer
  * and mines cell-by-cell" is a measured trade (recall lost to
  * cross-cell pairs vs candidate volume saved), not an assertion.
  *
  * Usage: runMain graft.tools.BitextScale [dir] [nCells]
  */
object BitextScale {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nCells = if (args.length > 1) args(1).toInt else 16
    val spark = graft.Session.get()
    import spark.implicits._

    val e = graft.Tables.embeddings(spark, dir)
    val sideA = e.filter($"label" === 0)
    val sideB = e.filter($"label" === 1)
    val (nA, nB) = (sideA.count(), sideB.count())
    println(s"[bitext-scale] dir=$dir |A|=$nA |B|=$nB cells=$nCells")

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[bitext-scale] $name%-12s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val brute = timed("brute") {
      graft.operators.BitextMine
        .minePairs(sideA, sideB, $"vec_id", $"embedding", k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    val model = timed("train") {
      graft.operators.IvfAnn.train(
        sideA.unionByName(sideB), "vec_id", "embedding", k = nCells)
    }
    val cellOf = graft.operators.IvfAnn.assignCell($"embedding", model)
    val blockedDf = graft.operators.BitextMine
      .minePairsBlocked(sideA, sideB, $"vec_id", $"embedding", cellOf, k = 4)
    val blocked = timed("blocked") {
      blockedDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val scoredPairs = sideA.select(cellOf.as("blk"))
      .groupBy($"blk").count().as("a")
      .join(sideB.select(cellOf.as("blk")).groupBy($"blk").count().as("b"), "blk")
      .select(($"a.count" * $"b.count").as("p"))
      .agg(sum($"p")).collect()(0).getLong(0)

    val common = (brute intersect blocked).size
    // the CEILING: a brute pair is findable by any block scheme only if
    // both ends land in the same cell; agreement should track it
    val cells = e.select($"vec_id", cellOf.as("c")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val coLocated = brute.filter { case (a, b) => cells(a) == cells(b) }
    val commonCo = (coLocated intersect blocked).size
    println(s"[bitext-scale] brute_pairs=${brute.size} blocked_pairs=${blocked.size} " +
      s"agree=$common " +
      s"agree_of_brute_ppm=${if (brute.nonEmpty) 1000000L * common / brute.size else -1} " +
      s"scored=${scoredPairs} of ${nA * nB} " +
      s"(scan_ppm=${1000000L * scoredPairs / math.max(nA * nB, 1L)})")
    println(s"[bitext-scale] co_located_brute=${coLocated.size} " +
      s"(ceiling_ppm=${if (brute.nonEmpty) 1000000L * coLocated.size / brute.size else -1}) " +
      s"agree_within_ceiling_ppm=${if (coLocated.nonEmpty) 1000000L * commonCo / coLocated.size else -1}")

    // ---- planted-twin phase: the realistic regime. True translation
    // pairs are near-identical vectors; plant a deterministic slightly
    // perturbed twin of every A vector as the B side and measure how
    // many planted pairs each miner recovers.
    val sideA2 = sideA.select($"vec_id", $"embedding")
    val twins = sideA.select(($"vec_id" + 10000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> x + float(0.02) * " +
        "float((vec_id + i) % 7 - 3))").as("embedding"))
    def plantedRecall(pairs: Set[(Long, Long)]): Long = {
      val hits = pairs.count { case (a, b) => b == a + 10000000L }
      1000000L * hits / math.max(nA, 1L)
    }
    val bruteP = timed("brute-plant") {
      graft.operators.BitextMine
        .minePairs(sideA2, twins, $"vec_id", $"embedding", k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val modelP = graft.operators.IvfAnn.train(
      sideA2.unionByName(twins), "vec_id", "embedding", k = nCells)
    val cellOfP = graft.operators.IvfAnn.assignCell($"embedding", modelP)
    val blockedP = timed("blocked-plant") {
      graft.operators.BitextMine
        .minePairsBlocked(sideA2, twins, $"vec_id", $"embedding", cellOfP, k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    println(s"[bitext-scale] planted: brute_recall_ppm=${plantedRecall(bruteP)} " +
      s"blocked_recall_ppm=${plantedRecall(blockedP)}")
    spark.stop()
  }
}
