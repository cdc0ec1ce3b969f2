package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all specs (getOrCreate — tests fork once). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("4")

  def postingsDf(p: Seq[(Long, Double)]): DataFrame = {
    import spark.implicits._
    p.toDF("off", "score")
  }

  /** Collect a posting DataFrame to a multiset for exact comparison. */
  def multiset(df: DataFrame): Map[(Long, Double), Int] =
    df.collect()
      .map(r => (r.getLong(r.fieldIndex("off")), r.getDouble(r.fieldIndex("score"))))
      .groupBy(identity).view.mapValues(_.length).toMap

  def multiset(p: Seq[(Long, Double)]): Map[(Long, Double), Int] =
    p.groupBy(identity).view.mapValues(_.length).toMap

  /** True when an executed plan reads the corpus TEXT table — matches both
    * the raw source file and its re-laid src_documents copy (review
    * finding, r15: the re-lay made bare "documents.parquet" guards
    * vacuous). The stored-only retrieval pins use this. */
  def scansCorpusText(plan: String): Boolean =
    plan.toLowerCase.contains("documents.parquet") ||
      plan.contains("src_documents")

  /** A codec's planted-regime recall rows derived from scratch: the
    * planted cluster around vec 0 (10 variants), its cell assignment, the
    * codec's store over it and the exact top-10, each derived in-session
    * and cached for the statement — the in-engine twin of the stored
    * fixtures the *_recall_planted entries read. */
  def plantedRecall(codec: graft.ml.IvfCodec, emb: DataFrame): DataFrame = {
    import graft.ml.Ann
    import graft.util.Caches
    val e = Caches.track(Ann.plantedCluster(emb, 0L, 10).cache())
    val store = Caches.track(codec.encode(e, Ann.cellAssignment(e)).cache())
    codec.recallFrom(store, e, Ann.exactIds(e, 0L, 10), 0L, 10)
  }
}
