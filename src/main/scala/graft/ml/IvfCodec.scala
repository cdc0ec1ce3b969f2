package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One vector encoding served behind the IVF coarse quantizer (Ann.Cells
  * committed centroids, Ann.Probes cells per query). Every encoding stores
  * its rows hive-partitioned by cell and serves the same lookups — single,
  * restricted, batch, recall — so the probe, pruning, restriction and
  * ranking code lives HERE, written once, and an instance supplies only
  * what differs: its name, its store row encoding, its Spark score column,
  * and the DuckDB mirror of both (a coded-corpus CTE over
  * Ann.cellCtesSql ending in `coded(vec_id, cell, ...)`, and the sim
  * expression over a `coded` row). The probe and ranking work is
  * independent of the code it scores (the compressed-index search split).
  *
  * Store contract: (vec_id, <codec columns>, cell). Query contract of the
  * batch lookups: the (vec_id, embedding) query table has DISTINCT ids
  * (both per-query windows key on qid); `excludeSelf` assumes those ids
  * are corpus vec_ids and drops each query's own row — an external query
  * table must pass excludeSelf = false. Fewer than k rows surviving a
  * restriction inside the probed cells returns fewer than k rows (the
  * filtered-ANN contract; Ann.ivfTopKAllowedAdaptive widens the probes). */
sealed trait IvfCodec {

  /** The recall-row method label (and the Catalog store-name stem). */
  def name: String

  /** Store rows for corpus `emb` (vec_id, embedding) under its cell
    * assignment `cells` (vec_id, cell). */
  def encode(emb: DataFrame, cells: DataFrame): DataFrame

  /** The rounded ranking sim of a store row against query `qemb` with
    * self-dot `qn` — a literal vector and constant in the single lookup,
    * the probed row's columns in the batch lookup. */
  def sim(qemb: Column, qn: Column): Column

  /** DuckDB CTEs after Ann.cellCtesSql, ending in `coded(vec_id, cell, …)`. */
  def codedCtesSql: String

  /** DuckDB mirror of `sim` over a `coded` row and query expression `q`;
    * the reconstructing codecs expose the reconstruction as `coded.xq`. */
  def simSql(q: String): String =
    s"""round(list_dot_product(coded.xq, $q) /
       |  sqrt(list_dot_product(coded.xq, coded.xq) * list_dot_product($q, $q)), 6)""".stripMargin

  /** The batch query embedding as `sim` takes it: the coded kernels read
    * doubles; Flat's graft_dot widens the stored floats itself. */
  protected def queryEmb(embedding: Column): Column =
    embedding.cast("array<double>")

  /** Top-k (vec_id, sim) for corpus vector `qVecId`: one bounded
    * query-row collect, probe arithmetic on the driver (Ann.probedCellsOf),
    * then ONE probed-partition scan ranked against the literal query — the
    * probed cells reach the scan as a static partition filter. */
  def topK(store: DataFrame, emb: DataFrame, qVecId: Long, k: Int): DataFrame =
    topKAt(store, Ann.queryVec(emb, qVecId), qVecId, k, Ann.Probes)

  /** topK for an already-collected query vector at probe width `probes`. */
  private[graft] def topKAt(store: DataFrame, vec: Array[Double],
      qVecId: Long, k: Int, probes: Int): DataFrame =
    store.filter(col("cell").isin(Ann.probedCellsOf(vec, probes): _*))
      .filter(col("vec_id") =!= qVecId)
      .select(col("vec_id"),
        sim(Ann.litVec(vec), lit(Ann.selfDot(vec))).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)

  /** The batch candidate chain, unranked (qid, vec_id, sim): each query
    * row keeps its Probes nearest cells in-plan (Ann.probeBatch), the store
    * is partition-pruned to the batch's probed cells
    * (Ann.prunedByProbedCells), candidates arrive through the hash join on
    * the cell key. Nothing is collected; |Q| can itself be data-scale. */
  private[ml] def candidates(store: DataFrame, queries: DataFrame,
      excludeSelf: Boolean): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"),
      queryEmb(col("embedding")).as("qemb"))
    val probed = Ann.probeBatch(q)
    val joined = probed.join(Ann.prunedByProbedCells(store, probed),
      Seq("cell"))
    val cand = if (excludeSelf) joined.filter(col("vec_id") =!= col("qid"))
               else joined
    cand.select(col("qid"), col("vec_id"),
      sim(col("qemb"), col("qn")).as("sim"))
  }

  /** BATCHED top-k: a whole query table in one declarative plan, ≤ k
    * (qid, vec_id, sim) rows per query, the per-query rank riding the
    * WindowGroupLimit pushdown; `keepRank` also returns that rank. */
  def topKBatch(store: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean, keepRank: Boolean): DataFrame =
    Ann.topKPerQuery(candidates(store, queries, excludeSelf), k, keepRank)

  /** Recall@k of topK against a STORED k-row exact baseline — the quality
    * gate served from fixtures: the lookup ranks in Spark, the ≤k-id
    * overlap is driver arithmetic (Ann.recallRows). (method, hits, recall). */
  def recallFrom(store: DataFrame, emb: DataFrame, exact: DataFrame,
      qVecId: Long, k: Int): DataFrame = {
    val ids = exact.select("vec_id").collect().map(_.getLong(0)).toSet
    val got = topK(store, emb, qVecId, k)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    Ann.recallRows(emb.sparkSession, ids, Seq(name -> got), k)
  }

  // ---- DuckDB mirrors ----

  /** The single-lookup oracle at probe width `probes` over source relation
    * `srcSql`, with `restriction` (IvfCodec.restrictionSql, or "") on the
    * candidate side. */
  private[ml] def lookupSql(qVecId: Long, k: Int, probes: Int,
      srcSql: String, restriction: String): String =
    s"""WITH ${Ann.cellCtesSql(srcSql)},
       |$codedCtesSql,
       |qc AS (SELECT cent_id AS cell FROM asg WHERE vec_id = $qVecId
       |       ORDER BY csim DESC, cent_id ASC LIMIT $probes),
       |q AS (SELECT emb AS qemb FROM e WHERE vec_id = $qVecId)
       |SELECT coded.vec_id AS vec_id, ${simSql("q.qemb")} AS sim
       |FROM coded JOIN qc USING (cell), q
       |WHERE coded.vec_id <> $qVecId $restriction
       |ORDER BY sim DESC, vec_id LIMIT $k
       |""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB mirror of topK over `srcSql` (the planted gates re-source). */
  def oracleSql(qVecId: Long, k: Int, srcSql: String): String =
    lookupSql(qVecId, k, Ann.Probes, srcSql, "")

  /** DuckDB mirror of topK over IvfCodec.restrict(store, ids, masked), the
    * ids given as a subquery yielding `vec_id`. */
  def restrictedOracleSql(qVecId: Long, k: Int, idsSql: String,
      masked: Boolean): String =
    lookupSql(qVecId, k, Ann.Probes, Ann.BaseSrcSql,
      IvfCodec.restrictionSql(idsSql, masked))

  /** DuckDB mirror of topKBatch (excludeSelf) for the query batch
    * vec_id < maxQid, optionally over a store restricted to `allowedSql`. */
  def batchOracleSql(maxQid: Long, k: Int,
      allowedSql: Option[String]): String =
    s"""WITH ${Ann.cellCtesSql(Ann.BaseSrcSql)},
       |$codedCtesSql,
       |${Ann.batchQueryCtesSql(maxQid)},
       |cand AS (SELECT p.qid AS qid, coded.vec_id AS vec_id,
       |    ${simSql("p.qemb")} AS sim
       |  FROM probed p JOIN coded USING (cell)
       |  WHERE coded.vec_id <> p.qid
       |    ${allowedSql.fold("")(IvfCodec.restrictionSql(_, masked = false))})
       |${Ann.batchRankSql(k)}
       |""".stripMargin.replaceAll("\\s+", " ")

  /** DuckDB mirror of recallFrom over `srcSql`: the exact top-k
    * (Ann.exactTopKSql, the one baseline every gate compares against) and
    * this codec's lookup oracle. */
  def recallOracleSql(qVecId: Long, k: Int, srcSql: String): String =
    s"""WITH exact AS ((${Ann.exactTopKSql(qVecId, k, srcSql)})),
       |got AS ((${oracleSql(qVecId, k, srcSql)}))
       |SELECT '$name' AS method, count(*) AS hits,
       |  round(count(*) * 1.0 / $k, 4) AS recall
       |FROM got WHERE vec_id IN (SELECT vec_id FROM exact)
       |""".stripMargin.replaceAll("\\s+", " ")
}

object IvfCodec {

  /** The restriction modifier on a store: candidates semi-joined to an
    * allowed id set (a metadata-sidecar slice) or anti-joined to a
    * tombstone set (deletes masked without touching the stored cells).
    * Both commute with the probed-cell and self filters, so a restricted
    * lookup IS the standard one over the restricted store; neither is
    * hinted — an id set is sub-corpus-sized, AQE broadcasts it while small.
    * A label predicate needs no modifier: it is a store filter, pushed into
    * the store scan. Every score here is free of corpus statistics, so a
    * masked serve equals a tombstone-folded compaction exactly. */
  def restrict(store: DataFrame, ids: DataFrame, masked: Boolean): DataFrame =
    store.join(ids.select("vec_id"), Seq("vec_id"),
      if (masked) "left_anti" else "left_semi")

  /** DuckDB mirror of `restrict` as a candidate-side predicate. IN / NOT
    * IN are set predicates, so duplicate id rows cannot duplicate
    * candidates — the semi/anti-join semantics. */
  private[ml] def restrictionSql(idsSql: String, masked: Boolean): String =
    s"AND coded.vec_id ${if (masked) "NOT IN" else "IN"} " +
      s"(SELECT vec_id FROM ($idsSql))"

  /** The float vectors themselves, stored inside the cells (IVF-flat):
    * rows (vec_id, embedding, [label,] cell), ranked by exact cosine. */
  case object Flat extends IvfCodec {
    val name = "ivf"
    def encode(emb: DataFrame, cells: DataFrame): DataFrame =
      emb.join(cells, Seq("vec_id"))
    def sim(qemb: Column, qn: Column): Column =
      Ann.asymSim(col("embedding"), qemb, qn)
    def codedCtesSql: String =
      """coded AS (SELECT vec_id, cell.cell AS cell, e.emb AS xq
        |  FROM cell JOIN e USING (vec_id))""".stripMargin
    override protected def queryEmb(embedding: Column): Column = embedding
  }

  /** Scalar int8 codes (Quant): rows (vec_id, codes, mn, scale, cell),
    * ranked in the integer domain by the Sq8Sim kernel. */
  case object Sq8 extends IvfCodec {
    val name = "sq8"
    def encode(emb: DataFrame, cells: DataFrame): DataFrame =
      Quant.sq8Store(emb).join(cells, Seq("vec_id"))
    def sim(qemb: Column, qn: Column): Column =
      round(call_function("graft_sq8_sim", col("codes"), qemb, col("mn"),
        col("scale"), qn), 6)
    def codedCtesSql: String = Quant.codedCtesSql
    override def simSql(q: String): String = Quant.intSimSql(q)
  }

  /** Product-quantized codes (graft.ml.Pq): rows (vec_id, codes, cell),
    * ranked by the PqSim ADC kernel. */
  case object Pq extends IvfCodec {
    val name = "pq"
    def encode(emb: DataFrame, cells: DataFrame): DataFrame =
      graft.ml.Pq.pqCodes(emb).join(cells, Seq("vec_id"))
    def sim(qemb: Column, qn: Column): Column =
      round(call_function("graft_pq_sim", col("codes"), qemb, qn), 6)
    def codedCtesSql: String = graft.ml.Pq.codedCtesSql
  }

  /** Residual product-quantized codes (PqResidual): rows (vec_id, cell,
    * codes), the cell id feeding the PqrSim reconstruction. */
  case object Pqr extends IvfCodec {
    val name = "pqr"
    def encode(emb: DataFrame, cells: DataFrame): DataFrame =
      PqResidual.pqrRows(emb, cells)
    // the hive partition column reads back INT; the kernel takes BIGINT
    def sim(qemb: Column, qn: Column): Column =
      round(call_function("graft_pqr_sim", col("codes"),
        col("cell").cast("long"), qemb, qn), 6)
    def codedCtesSql: String = PqResidual.codedCtesSql
  }
}
