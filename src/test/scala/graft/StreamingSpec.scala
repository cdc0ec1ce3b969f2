package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.Catalog
import graft.streaming.EventsIngest

/** Structured Streaming ingest (SURVEY §2.9): the streaming pipelines must
  * produce exactly what the equivalent batch derivation produces over the
  * same files. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  test("postings sink: stream output == batch derivation") {
    val out = Files.createTempDirectory("graft-stream").toString
    EventsIngest.runPostingsSink(spark, dir, s"$out/postings", s"$out/ckpt")
    val streamed = spark.read.parquet(s"$out/postings")
    val batch = Catalog.events(spark, dir).select(
      concat(lit("event:"), col("event_type")).as("key"),
      unix_timestamp(col("ts")).as("off"),
      col("value").as("score"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("windowed daily counts: stream (complete mode) == batch aggregation") {
    val streamed = EventsIngest.dailyCountsOnce(spark, dir)
    val batch = Catalog.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("custom-state user profiles: final stream update == batch aggregate") {
    // flatMapGroupsWithState merges events commutatively, so each user's
    // LAST emitted update must equal the batch lifetime groupBy regardless
    // of micro-batch slicing
    val streamed = EventsIngest.userProfilesOnce(spark, dir)
    val batch = Catalog.events(spark, dir)
      .groupBy("user_id")
      .agg(min(unix_timestamp(col("ts"))).as("first_sec"),
        max(unix_timestamp(col("ts"))).as("last_sec"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming dedup within watermark == batch distinct") {
    // every duplicate of a (user, type, day) key lands inside that day, so
    // watermark expiry never re-admits one — streaming == batch DISTINCT
    val streamed = EventsIngest.dedupDailyOnce(spark, dir)
    val batch = Catalog.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct()
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("session windows: streaming append == batch sessions (finalized subset)") {
    val out = Files.createTempDirectory("graft-stream-sess").toString
    val q = EventsIngest.sessionsStream(EventsIngest.stream(spark, dir))
      .writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append")
      .format("parquet")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$out/sessions")
    q.awaitTermination()
    val emitted = spark.read.parquet(s"$out/sessions")
    val batch = EventsIngest.sessions(Catalog.events(spark, dir))
    // every emitted (finalized) session must byte-match the batch plan's
    assert(emitted.exceptAll(batch).count() == 0)
    assert(emitted.count() > 0) // watermark passed: sessions actually emitted
    // sessionization sanity on the batch side: no session exceeds its events
    val bad = batch.filter(col("n_events") <= 0)
    assert(bad.count() == 0)
  }

  test("append mode with watermark emits only finalized windows") {
    // Drip the file through in one batch; with append mode the engine holds
    // back windows not yet past the watermark — the emitted set must be a
    // subset of the batch result and must not contain the max-event-time day.
    val out = Files.createTempDirectory("graft-stream-append").toString
    val q = EventsIngest.dailyCounts(EventsIngest.stream(spark, dir))
      .writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .outputMode("append")
      .format("parquet")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$out/daily")
    q.awaitTermination()
    val emitted = spark.read.parquet(s"$out/daily")
    val batch = Catalog.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
    assert(emitted.exceptAll(batch).count() == 0) // subset, rows identical
  }

  test("streamed ANN bucket rows == batch index build (incremental upkeep)") {
    val streamed = graft.streaming.EmbeddingsIngest.bucketsOnce(spark, dir)
    val batch = graft.ml.Ann.bucketIds(Catalog.embeddings(spark, dir))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streamed IVF cell rows == batch cell assignment (index upkeep)") {
    // the projection-shaped streaming argmax must agree with the batch
    // max(struct) aggregate, ties included
    val streamed = graft.streaming.EmbeddingsIngest.cellsOnce(spark, dir)
    val batch = graft.ml.Ann.cellAssignment(Catalog.embeddings(spark, dir))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streamed SQ8 composed rows == materialized sq8IvfStore (quantized upkeep)") {
    // the frozen-quantizer encode + cell argmax (one stateless projection)
    // must reproduce the batch-built composed store exactly — byte codes
    // and cell assignment both
    val streamed = graft.streaming.EmbeddingsIngest.sq8Once(spark, dir)
      .select("vec_id", "cell", "codes")
    val batch = Catalog.ivfStore(spark, dir, graft.ml.IvfCodec.Sq8)
      .select("vec_id", "cell", "codes")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("compacted SQ8 generation == materialized sq8IvfStore (quantized fold)") {
    // streamed parquet sink → compactAndFlip → manifest read-back: the
    // sorted (cell, vec_id) generation must carry the identical byte codes
    // and cell assignments as the hive-partitioned batch store
    val base = java.nio.file.Files.createTempDirectory("graft_sq8_compact").toString
    try {
      val compacted = graft.streaming.EmbeddingsIngest
        .compactedSq8Once(spark, dir, base)
        .select("vec_id", "cell", "codes")
      val batch = Catalog.ivfStore(spark, dir, graft.ml.IvfCodec.Sq8)
        .select("vec_id", "cell", "codes")
      assert(compacted.count() == batch.count())
      assert(compacted.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(compacted).count() == 0)
    } finally graft.ingest.Compact.rmTree(base)
  }

  test("streamed PQ composed rows == materialized pqIvfStore (PQ upkeep)") {
    // the committed-codebook encode + cell argmax (one stateless
    // projection — no quantizer to freeze) must reproduce the batch-built
    // composed PQ store exactly, code bytes and cell assignment both
    val streamed = graft.streaming.EmbeddingsIngest.pqOnce(spark, dir)
      .select("vec_id", "cell", "codes")
    val batch = Catalog.ivfStore(spark, dir, graft.ml.IvfCodec.Pq)
      .select("vec_id", "cell", "codes")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("compacted PQ generation == materialized pqIvfStore (PQ fold)") {
    val base = java.nio.file.Files.createTempDirectory("graft_pq_compact").toString
    try {
      val compacted = graft.streaming.EmbeddingsIngest
        .compactedPqOnce(spark, dir, base)
        .select("vec_id", "cell", "codes")
      val batch = Catalog.ivfStore(spark, dir, graft.ml.IvfCodec.Pq)
        .select("vec_id", "cell", "codes")
      assert(compacted.count() == batch.count())
      assert(compacted.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(compacted).count() == 0)
    } finally graft.ingest.Compact.rmTree(base)
  }

  test("stream-stream interval join == batch interval join") {
    val streamed = EventsIngest.intervalJoinOnce(spark, dir)
    val ev = Catalog.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val batch = p.join(v, col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("interval 1 hour") &&
        col("v_ts") <= col("p_ts"))
      .select("user_id", "p_ts", "v_ts")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("left-outer interval join == batch left join on the resolved region") {
    // null emission is WATERMARK-FORCED: a purchase emits unmatched only
    // once the view watermark proves no future pair. Purchases younger than
    // (max ts − watermark) are unresolved when the one-shot drains, so the
    // comparison restricts both sides to a 2-day cutoff.
    val ev = Catalog.events(spark, dir)
    val cutoff = ev.agg(max("ts")).head.getTimestamp(0).toInstant
      .minus(java.time.Duration.ofDays(2))
    val streamed = EventsIngest.intervalJoinLeftOnce(spark, dir)
      .filter(col("p_ts") <= lit(java.sql.Timestamp.from(cutoff)))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val batch = p.join(v, col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("interval 1 hour") &&
        col("v_ts") <= col("p_ts"), "left_outer")
      .select("user_id", "p_ts", "v_ts")
      .filter(col("p_ts") <= lit(java.sql.Timestamp.from(cutoff)))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    // the unmatched (null) half must be present, not vacuously equal
    assert(streamed.filter(col("v_ts").isNull).count() > 0)
  }

  test("left-outer interval join: watermark-forced flush of trailing rows") {
    // VERDICT r9 #2 — the region the stream==batch spec above excludes: a
    // purchase younger than (max ts − watermark) must NOT emit unmatched
    // until the view watermark PROVES no pair can arrive, and MUST emit
    // (with null view columns) once later input advances the watermark past
    // its window. Two-phase fixture over one checkpoint: phase 1's trailing
    // purchase stays buffered; phase 2 appends only a far-future view for an
    // unrelated user and the resumed stream flushes the null row.
    val base = Files.createTempDirectory("graft_ljflush").toString
    val in = s"$base/in"
    val day0 = 1704067200L // 2024-01-01 UTC, epoch seconds
    def ns(daysH: Double): java.lang.Long = // nanos, fractional days
      java.lang.Long.valueOf(((day0 + daysH * 86400).toLong) * 1000000000L)
    import spark.implicits._
    def write(rows: Seq[(Long, java.lang.Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    // the memory sink cannot resume a checkpoint; the parquet sink is the
    // recoverable deployment sink, so each phase appends to one output dir
    // and a phase's emissions are the rows beyond the previous phase's count
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p_ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v_ts",
        org.apache.spark.sql.types.TimestampType)))
    def runPhase(): Seq[org.apache.spark.sql.Row] = {
      val src = spark.readStream.schema(Catalog.eventsSchema).parquet(in)
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      val q = EventsIngest.intervalJoinLeft(src)
        .writeStream
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append").format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$base/out")
      q.awaitTermination()
      spark.read.schema(outSchema).parquet(s"$base/out").collect().toSeq
    }
    write(Seq(
      (1L, ns(1.0), 1L, "purchase", 5.0, "{}"),  // early, no view → null row
      (2L, ns(1.5), 2L, "view", 0.0, "{}"),
      (3L, ns(1.52), 2L, "purchase", 7.0, "{}"), // view 29 min before → match
      (4L, ns(9.95), 3L, "purchase", 9.0, "{}"), // TRAILING: inside the last
                                                 // watermark window at phase-1 end
      (5L, ns(10.0), 99L, "view", 0.0, "{}")))   // clock: watermark → day 9
    val p1 = runPhase()
    // the trailing purchase is UNRESOLVED at phase-1 end: watermark (day 9)
    // has not passed its window — emitting it now would be a wrong-answer
    assert(!p1.exists(r => r.getLong(0) == 3L),
      s"trailing purchase emitted before watermark proof: $p1")
    // phase 2: far-future events advance the watermark to day 13 — on BOTH
    // sides, because the global watermark is the MIN over every
    // withWatermark column; a view-only clock would leave the purchase-side
    // watermark behind and gate the flush forever. The resumed stream must
    // now emit user 3's unmatched purchase. (User 98's clock purchase is
    // itself trailing and stays buffered — it never appears in the output.)
    write(Seq(
      (6L, ns(14.0), 99L, "view", 0.0, "{}"),
      (7L, ns(14.0), 98L, "purchase", 1.0, "{}")))
    val p2 = runPhase().diff(p1)
    assert(p2.exists(r => r.getLong(0) == 3L && r.isNullAt(2)),
      s"watermark advance did not flush the trailing null row: $p2")
    // across both phases: u1 null, u2 match, u3 null — exactly once each
    val all = (p1 ++ p2).map(r => (r.getLong(0), r.isNullAt(2)))
    assert(all.count(_ == (1L, true)) == 1)
    assert(all.count(_ == (2L, false)) == 1)
    assert(all.count(_ == (3L, true)) == 1)
    assert(all.size == 3, s"spurious rows: ${p1 ++ p2}")
    graft.ingest.Compact.rmTree(base)
  }

  test("drain() drops memory-sink temp views registered by one-shots") {
    // ADVICE r9: without the drop, each statement window's runId-fresh
    // graft_stream_* table pins its rows in driver memory for the session
    graft.util.Caches.drain() // fresh window
    graft.streaming.DocumentsIngest.sketchOnce(spark, dir)
    val live = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_wsk"))
    assert(live.nonEmpty, "one-shot did not register a sink view")
    graft.util.Caches.drain()
    val after = spark.catalog.listTables().collect()
      .map(_.name).filter(live.contains(_))
    assert(after.isEmpty, s"drain left sink views: ${after.toSeq}")
  }

  test("streamed winnow sketch == batch sketch (text index upkeep)") {
    val streamed = graft.streaming.DocumentsIngest.sketchOnce(spark, dir)
    val batch = graft.ml.NearDup.winnowFingerprints(
      Catalog.documents(spark, dir))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streamed summary overrides == batch override table (refresh upkeep)") {
    // the reference's no-reindex result-refresh path (README.md:38-49) as
    // an always-on sink: the streamed derivation must equal the batch
    // table row-for-row so the overlay join is oblivious to which path
    // populated summary_overrides
    val streamed = graft.streaming.OverridesIngest.overridesOnce(spark, dir)
    val batch = Catalog.overrides(spark, dir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("override parquet sink (deployment shape) == batch override table") {
    // the appending sink a deployment actually runs — same derivation as
    // the memory-sink entry, pinned separately so the two cannot drift
    val base = java.nio.file.Files.createTempDirectory("graft_ovr_sink").toString
    graft.streaming.OverridesIngest.runOverrideSink(spark, dir,
      s"$base/out", s"$base/ck")
    val sunk = spark.read.parquet(s"$base/out")
    val batch = Catalog.overrides(spark, dir)
    assert(sunk.count() == batch.count())
    assert(sunk.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(sunk).count() == 0)
    graft.ingest.Compact.rmTree(base)
  }

  test("shuffled enrich variant: streamed == batch and the plan has NO broadcast join") {
    // the big-dim variant must actually exercise the shuffle shape — with
    // the testdata dimension under the broadcast threshold the planner
    // would silently pick the same BroadcastHashJoin as ev_stream_enrich,
    // so the one-shot disables autoBroadcastJoinThreshold on its cloned
    // session; this pin runs the identical conf + batch plan and asserts
    // the join is a real shuffle join
    val streamed = EventsIngest.enrichedShuffledOnce(spark, dir)
    val batch = Catalog.events(spark, dir)
      .join(Catalog.table(spark, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment")),
        Seq("user_id"))
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = EventsIngest.enrichedShuffled(
        Catalog.events(s2, dir), Catalog.table(s2, dir, "customer"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), s"big-dim enrich broadcasts:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"no shuffle join in big-dim enrich plan:\n$p")
  }

  test("stream-static enrichment: streamed segment aggregate == batch join") {
    val streamed = EventsIngest.enrichedOnce(spark, dir)
    val batch = Catalog.events(spark, dir)
      .join(Catalog.table(spark, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment")),
        Seq("user_id"))
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streamed pair-graph admission == batch nearDuplicates across micro-batches") {
    import spark.implicits._
    // The stored-cluster lifecycle (Catalog.dupPairs) is only valid if
    // streamed admission reproduces the batch pair set EXACTLY. Three
    // separate parquet files + maxFilesPerTrigger=1 force >=3 micro-batches,
    // so cross-batch discovery (new doc vs the accumulated band store) is
    // genuinely exercised: a~b land in different batches, b~c likewise.
    val base = Files.createTempDirectory("graft_pairs_stream").toString
    val tok = (1 to 30).map(i => s"tok$i")
    val a = tok.mkString(" ")
    val b = (tok.dropRight(1) :+ "CHANGED").mkString(" ") // ~ a
    val c = (tok.dropRight(2) ++ Seq("CHANGED", "MORE")).mkString(" ") // ~ b
    val other1 = (1 to 30).map(i => s"zzz$i").mkString(" ")
    val other2 = (1 to 30).map(i => s"yyy$i").mkString(" ")
    val chunks = Seq(
      Seq((10L, a), (13L, other1)),
      Seq((11L, b)),
      Seq((12L, c), (14L, other2)))
    chunks.foreach(ch => ch.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$base/in"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    graft.streaming.DocumentsIngest.runPairSink(src, s"$base/store", 0.5)
    val streamed = spark.read.parquet(s"$base/store/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ml.NearDup.nearDuplicates(
        chunks.flatten.toDF("doc_id", "text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture must produce verified pairs")
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    graft.util.Caches.drain()
  }
}
