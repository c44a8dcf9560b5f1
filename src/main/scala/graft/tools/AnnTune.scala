package graft.tools

import graft.Tables
import graft.operators.{IvfAnn, PqAnn}
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ANN recall-vs-cost sweep behind q_ann_tuned: runs every lane
  * configuration on one data dir, printing recall@5 against bruteforce,
  * the candidate-pair count (the scan-cost proxy — how many corpus
  * vectors each lane actually touches), and wall time. This is the
  * experiment that picks the production configurations; the chosen
  * points are then frozen into q_ann_tuned with a DuckDB oracle and the
  * frontier recorded in SCALE.md.
  *
  * Args: [dir] (default sf0.01).
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.get()
    import spark.implicits._

    val e = Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" < 10)
    val nCorpus = e.count()
    val coarse = IvfAnn.train(e, "vec_id", "embedding", k = 16)
    val pq = PqAnn.train(e, "vec_id", "embedding", m = 4, ksub = 16)

    val brute = Similarity.bruteForceTopK(q, e, k = 5)
      .select($"query_id", $"cand_id").localCheckpoint(true)
    val nPossible = brute.count()
    println(s"anntune: dir=$dir corpus=$nCorpus possible=$nPossible " +
      s"brute_scans=${10 * (nCorpus - 1)}")

    def ivfCand(np: Int): Long = {
      val cellOf = e.select($"vec_id",
        IvfAnn.assignCell($"embedding", coarse).as("cell"))
      q.select($"vec_id".as("qid"),
          explode(IvfAnn.probeCells($"embedding", coarse, np)).as("cell"))
        .join(cellOf, "cell").filter($"vec_id" =!= $"qid").count()
    }
    def lshCand(planes: Int, radius: Int): Long = {
      val hp = Similarity.hyperplanes(planes, 64)
      val b = e.select($"vec_id", Similarity.bucketOf($"embedding", hp).as("b"))
      val qb = b.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"b".as("qb"))
      qb.crossJoin(b)
        .filter($"vec_id" =!= $"qid")
        .filter(bit_count($"qb".bitwiseXOR($"b")) <= radius)
        .count()
    }

    def recall(name: String, cand: => Long)(f: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val hits = f.select($"query_id", $"cand_id")
        .join(broadcast(brute), Seq("query_id", "cand_id")).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val c = cand
      println(f"anntune: $name%-28s recall=${hits.toDouble / nPossible}%.3f " +
        f"hits=$hits/$nPossible cand=$c sec=$sec%.2f")
    }

    for (np <- Seq(2, 4, 6, 8, 12, 16))
      recall(s"ivf_p$np", ivfCand(np)) {
        IvfAnn.topK(q, e, k = 5, coarse, nProbe = np)
      }
    // finer coarse quantizers: recall is driven by the nProbe/nCells
    // FRACTION, so more cells buy the same recall at a smaller scan
    // (r14: 128/256 added hunting the >=950k ppm @ <=25% scan point)
    for (k <- Seq(32, 64, 128, 256)) {
      val m2 = IvfAnn.train(e, "vec_id", "embedding", k = k)
      def cand2(np: Int): Long = {
        val cellOf = e.select($"vec_id",
          IvfAnn.assignCell($"embedding", m2).as("cell"))
        q.select($"vec_id".as("qid"),
            explode(IvfAnn.probeCells($"embedding", m2, np)).as("cell"))
          .join(cellOf, "cell").filter($"vec_id" =!= $"qid").count()
      }
      for (np <- Seq(k / 4, k * 3 / 8, k / 2, k * 3 / 4))
        recall(s"ivf_k${k}_p$np", cand2(np)) {
          IvfAnn.topK(q, e, k = 5, m2, nProbe = np)
        }
      val pq8 = PqAnn.train(e, "vec_id", "embedding", m = 8, ksub = 16)
      for (np <- Seq(k / 2, k * 3 / 4); r <- Seq(100, 200))
        recall(s"pqm8_k${k}_p${np}_r$r", cand2(np)) {
          PqAnn.adcRerankTopK(q, e, k = 5, shortlist = r, m2, pq8,
            nProbe = np)
        }
    }
    // r14: spill (multi-assignment) sweep — the 25%-budget frontier
    for (k <- Seq(32, 64, 128, 256)) {
      val mS = IvfAnn.train(e, "vec_id", "embedding", k = k)
      def candSpill(np: Int, spill: Int): Long = {
        val cellOf = e.select($"vec_id",
          explode(IvfAnn.assignCells($"embedding", mS, spill)).as("cell"))
        q.select($"vec_id".as("qid"),
            explode(IvfAnn.probeCells($"embedding", mS, np)).as("cell"))
          .join(cellOf, "cell").filter($"vec_id" =!= $"qid").count()
      }
      for (spill <- Seq(2, 3); np <- Seq(k / 16, k / 12, k / 8, k / 6, k / 4))
        if (np >= 1)
          recall(s"ivfS_k${k}_s${spill}_p$np", candSpill(np, spill)) {
            IvfAnn.topKSpill(q, e, k = 5, mS, nProbe = np, spill = spill)
          }
    }
    for (planes <- Seq(4, 6, 8); r <- Seq(1, 2))
      recall(s"lsh_${planes}p_r$r", lshCand(planes, r)) {
        Similarity.lshTopK(q, e, k = 5, nPlanes = planes, probeRadius = r)
      }
    for (np <- Seq(4, 8))
      recall(s"pq_p$np", ivfCand(np)) {
        PqAnn.adcTopK(q, e, k = 5, coarse, pq, nProbe = np)
      }
    for (np <- Seq(8, 12, 16); r <- Seq(50, 100))
      recall(s"pq_rerank_p${np}_r$r", ivfCand(np)) {
        PqAnn.adcRerankTopK(q, e, k = 5, shortlist = r, coarse, pq,
          nProbe = np)
      }
    // the finer PQ at the original 16-cell quantizer (isolates m=4→8)
    val pq8c = PqAnn.train(e, "vec_id", "embedding", m = 8, ksub = 16)
    for (np <- Seq(8, 12); r <- Seq(50, 100))
      recall(s"pqm8_p${np}_r$r", ivfCand(np)) {
        PqAnn.adcRerankTopK(q, e, k = 5, shortlist = r, coarse, pq8c,
          nProbe = np)
      }
    spark.stop()
  }
}
