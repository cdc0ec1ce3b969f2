package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml.{Ann, IvfCodec}
import graft.model.Catalog

/** The four IVF codecs through the ONE shared serving path (IvfCodec),
  * table-driven: per codec, the batch lookup answers each query exactly as
  * the single lookup does while staying declarative over the
  * partition-pruned store and ranking through the codec's kernel; the
  * allowed-ids restriction never leaves its slice and commutes with the
  * scoring; the tombstone mask removes the dead ids and leaves every
  * survivor's sim unchanged (no score carries corpus statistics). */
class IvfCodecSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private val K = 10

  /** (codec, its store directory, the kernel its plans rank through). */
  private val codecs = Seq(
    (IvfCodec.Flat, "ivf_flat", "graft_dot"),
    (IvfCodec.Sq8, "sq8_ivf", "graft_sq8_sim"),
    (IvfCodec.Pq, "pq_ivf", "graft_pq_sim"),
    (IvfCodec.Pqr, "pqr_ivf", "graft_pqr_sim"))

  private def ranked(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  for ((codec, storeDir, kernel) <- codecs) {
    test(s"${codec.name}: batch == per-query single lookups, fully in-plan") {
      val emb = Catalog.embeddings(spark, dir)
      val store = Catalog.ivfStore(spark, dir, codec)
      val df = codec.topKBatch(store, emb.filter(col("vec_id") < 8), K,
        excludeSelf = true, keepRank = false)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains(storeDir), s"batch plan does not scan $storeDir:\n$p")
      // the only cross shape allowed is the probe stage's |Q|×Cells
      // expansion against the BROADCAST constant centroids; candidates
      // arrive through a HASH join on the cell key
      assert(!p.contains("CartesianProduct"),
        s"batch plan has a cartesian product:\n$p")
      assert(p.contains("HashJoin [cell#") || p.contains("HashJoin [cast(cell#")
        || p.contains("hashpartitioning(cell#"),
        s"candidate join is not a hash join on cell:\n$p")
      // BOTH per-query ranks ride the pushdown: the probe stage's
      // row_number <= Probes and the final top-k's row_number <= k
      val wgl = "WindowGroupLimit".r.findAllIn(p).size
      assert(wgl >= 2,
        s"expected both per-query ranks as WindowGroupLimit, found $wgl:\n$p")
      // the store scan carries a partition filter driven by the batch's
      // probed cells (broadcast left-semi → dynamic partition pruning)
      assert("""PartitionFilters: \[[^\]]*(dynamicpruning|cell#\d+[^\]]* IN )""".r
          .findFirstIn(p).isDefined,
        s"no probed-cell partition filter on the batch $storeDir scan:\n$p")
      // candidates rank through the codec's kernel, on the stored codes —
      // never a dequantized double array, never the flat SQ8 codes table
      assert(p.contains(kernel), s"batch path does not rank through $kernel:\n$p")
      assert(!p.contains("transform(codes"),
        s"batch path reconstructs candidates to double arrays:\n$p")
      assert(!p.contains("sq8_codes"),
        s"batch lookup scans the full flat codes store:\n$p")
      val batch = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val singles = (0L until 8L).map { qid =>
        qid -> ranked(codec.topK(store, emb, qid, K))
      }
      assert(batch == singles.flatMap { case (qid, rows) =>
        rows.map { case (v, s) => (qid, v, s) } }.toSet)
      if (codec == IvfCodec.Flat) {
        // the float store serves exactly what the assignment table
        // derives over the raw corpus
        val cells = Catalog.ivfCells(spark, dir)
        singles.foreach { case (qid, rows) =>
          assert(rows == ranked(Ann.ivfTopK(emb, cells, qid, K)))
        }
        // the external-id-space escape hatch: with excludeSelf = false a
        // corpus-drawn query keeps its own row, which ranks first (sim 1.0)
        val self = codec.topKBatch(store, emb.filter(col("vec_id") < 4), 1,
            excludeSelf = false, keepRank = false)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(self.length == 4 && self.forall(r => r._1 == r._2 && r._3 == 1.0),
          s"excludeSelf=false must rank each query's own row first: ${self.toSeq}")
      }
      graft.util.Caches.drain()
    }

    test(s"${codec.name}: allowed lookup stays inside the slice") {
      val emb = Catalog.embeddings(spark, dir)
      val store = Catalog.ivfStore(spark, dir, codec)
      // even vec_ids: big enough that the top-k is full
      val even = emb.select(col("vec_id")).filter(col("vec_id") % 2 === 0)
      val got = ranked(codec.topK(
        IvfCodec.restrict(store, even, masked = false), emb, 0L, K))
      assert(got.length == K)
      assert(got.forall(_._1 % 2 == 0), "allowed serve leaked a non-slice id")
      // the semi-join commutes with the scoring: == the unrestricted
      // chain ranked deep, then post-filtered
      val deep = ranked(codec.topK(store, emb, 0L, 10000))
        .filter(_._1 % 2 == 0).take(K)
      assert(got == deep)
      // a metadata-sidecar slice likewise: every hit is a member
      val en = Catalog.docMeta(spark, dir).filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val enIds = en.collect().map(_.getLong(0)).toSet
      val enHits = ranked(codec.topK(
        IvfCodec.restrict(store, en, masked = false), emb, 0L, K)).map(_._1)
      assert(enHits.nonEmpty && enHits.forall(enIds.contains),
        "allowed serve leaked an id outside the en slice")
      graft.util.Caches.drain()
    }

    test(s"${codec.name}: mask removes tombstoned ids, survivor sims unchanged") {
      import spark.implicits._
      val emb = Catalog.embeddings(spark, dir)
      val store = Catalog.ivfStore(spark, dir, codec)
      // tombstones drawn from the unmasked top-k, so the mask provably bites
      val unmasked = ranked(codec.topK(store, emb, 0L, K))
      val dead = unmasked.take(2).map(_._1)
      val masked = ranked(codec.topK(
        IvfCodec.restrict(store, dead.toDF("vec_id"), masked = true),
        emb, 0L, K))
      assert(masked.map(_._1).toSet.intersect(dead.toSet).isEmpty)
      val um = unmasked.toMap
      assert(masked.forall { case (id, s) => um.get(id).forall(_ == s) })
      // a range tombstone set: no id below it may surface
      val low = emb.select(col("vec_id")).filter(col("vec_id") < 50)
      val kept = ranked(codec.topK(
        IvfCodec.restrict(store, low, masked = true), emb, 0L, K))
      assert(kept.forall(_._1 >= 50), "masked serve surfaced a tombstoned id")
      graft.util.Caches.drain()
    }
  }
}
