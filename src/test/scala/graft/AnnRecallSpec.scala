package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.Ann
import graft.model.Catalog

/** Recall probe for the IVF path with the TRAINED coarse quantizer
  * (VERDICT r5 #5): for a sample of query vectors, the IVF top-k must
  * recover a substantial fraction of the exact brute-force top-k. This pins
  * that the committed k-means centroids actually partition the corpus into
  * usable cells — a degenerate quantizer (all vectors in one cell, or the
  * query's neighbors scattered across unprobed cells) fails the bound. */
class AnnRecallSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private val K = 10

  private def bruteTopK(emb: org.apache.spark.sql.DataFrame, q: Long): Set[Long] = {
    val e = emb.select(col("vec_id"), col("embedding").as("emb"))
    val qdf = broadcast(e.filter(col("vec_id") === q).select(col("emb").as("qemb")))
    val d = call_function("graft_dot", col("emb"), col("qemb"))
    val na = call_function("graft_dot", col("emb"), col("emb"))
    val nb = call_function("graft_dot", col("qemb"), col("qemb"))
    e.filter(col("vec_id") =!= q).crossJoin(qdf)
      .select(col("vec_id"), (d / sqrt(na * nb)).as("sim"))
      .orderBy(desc("sim"), asc("vec_id")).limit(K)
      .collect().map(_.getLong(0)).toSet
  }

  /** recallAtK over the planted cluster — both index derivations and the
    * exact baseline over the SAME augmented corpus, derived in-session. */
  private def plantedLshIvf(emb: org.apache.spark.sql.DataFrame) = {
    val e = graft.util.Caches.track(Ann.plantedCluster(emb, 0L, 10).cache())
    Ann.recallAtK(e, graft.util.Caches.track(Ann.bucketIds(e).cache()),
      graft.util.Caches.track(Ann.cellAssignment(e).cache()), 0L, K)
  }

  test("trained-centroid IVF recall@10 over sampled queries") {
    val emb = Catalog.embeddings(spark, dir)
    val cells = Catalog.ivfCells(spark, dir)
    val queries = Seq(0L, 7L, 42L, 99L, 123L)
    val recalls = queries.map { q =>
      val exact = bruteTopK(emb, q)
      val approx = Ann.ivfTopK(emb, cells, q, K)
        .collect().map(_.getLong(0)).toSet
      val r = (exact & approx).size.toDouble / K
      info(f"q=$q recall@$K = $r%.2f")
      r
    }
    graft.util.Caches.drain()
    val mean = recalls.sum / recalls.size
    info(f"mean recall@$K = $mean%.2f")
    // Probes/Cells = 4/16 of the corpus searched; a working quantizer keeps
    // most true neighbors inside the probed quarter.
    assert(mean >= 0.5, f"mean recall $mean%.2f below bound")
  }

  test("planted-cluster recall gate: lsh >= 0.8 (VERDICT r9 #5)") {
    // the ann_recall_planted entry's regime, pinned numerically: the
    // 10-clone cluster's exact top-10 is all high-cosine, so a working
    // hyperplane index MUST recover most of it — the floor a flat-corpus
    // recall pinned at 0.0 could never enforce. IVF must also find the
    // cluster (it lands in the query's own cell, probed first).
    val rows = plantedLshIvf(Catalog.embeddings(spark, dir))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    graft.util.Caches.drain()
    assert(rows("lsh") >= 0.8, s"lsh planted recall ${rows("lsh")} < 0.8")
    assert(rows("ivf") >= 0.8, s"ivf planted recall ${rows("ivf")} < 0.8")
  }

  test("LSH finds its regime: planted near-clones surface as top-1") {
    // hyperplane LSH is the NEAR-DUP index (recall ~0 at the corpus's
    // low-cos top-k is by design — ann_recall pins that number); here each
    // planted cos≈0.999 clone must collide with its source and rank first
    val emb = Ann.plantedCorpus(Catalog.embeddings(spark, dir), every = 50)
    val sources = Seq(0L, 50L, 100L)
    var hit = 0
    for (q <- sources) {
      val top = Ann.topK(emb, q, 5).collect().map(_.getLong(0))
      if (top.headOption.contains(q + Ann.PlantOffset)) hit += 1
    }
    graft.util.Caches.drain()
    assert(hit >= 2, s"only $hit/3 planted clones surfaced as top-1")
  }

  test("stored-fixture gates == the in-engine planted derivations (r15)") {
    // the entries serve the recall gates over Catalog.planted* stores; pin
    // them row-for-row to the in-session planted derivations they
    // replaced — the same flat==cells equality pin the other store
    // migrations carry (review finding, r15)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    try {
      val emb = Catalog.embeddings(spark, dir)
      assert(rows(SparkEntry.queries("ann_recall_planted")(spark, dir))
        == rows(plantedLshIvf(emb)))
      assert(rows(SparkEntry.queries("sq8_recall_planted")(spark, dir))
        == rows(TestSpark.plantedRecall(graft.ml.IvfCodec.Sq8, emb)))
      assert(rows(SparkEntry.queries("pq_recall_planted")(spark, dir))
        == rows(TestSpark.plantedRecall(graft.ml.IvfCodec.Pq, emb)))
      assert(rows(SparkEntry.queries("ann_recall")(spark, dir))
        == rows(Ann.recallAtK(emb, Catalog.annBuckets(spark, dir),
          Catalog.ivfCells(spark, dir), 0L, K)))
    } finally graft.util.Caches.drain()
  }

  test("multi-probe top-k dominates single-probe: superset candidates, " +
      "min similarity never lower") {
    val emb = Catalog.embeddings(spark, dir)
    val bk = Catalog.annBuckets(spark, dir)
    def simsOf(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      df.collect().map(_.getDouble(1)).toSeq.sorted
    try {
      val single = simsOf(Ann.topK(emb, bk, 0L, K))
      val multi = simsOf(Ann.topKMultiProbe(emb, bk, 0L, K))
      assert(multi.size >= single.size)
      // pairwise dominance of the sorted similarity lists: with a
      // candidate superset and the same ranking, every rank's sim can
      // only improve
      single.reverse.zip(multi.reverse).foreach { case (s, m) =>
        assert(m >= s, s"multi-probe sim $m below single-probe $s")
      }
    } finally graft.util.Caches.drain()
  }

  test("batched multi-probe == per-query multi-probe singles (in-plan " +
      "flip derivation matches the driver arithmetic)") {
    val emb = Catalog.embeddings(spark, dir)
    val bk = Catalog.annBuckets(spark, dir)
    try {
      val batch = Ann.topKBatchMultiProbe(emb, bk,
          emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8), K)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val singles = (0L until 8L).flatMap { qid =>
        Ann.topKMultiProbe(emb, bk, qid, K).collect()
          .map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.toSet
      assert(batch == singles)
    } finally graft.util.Caches.drain()
  }
}
