package graft.graph

import graft.SparkSpec

/** Regression pin for the fresh-warehouse cache poison: pageRank()
  * memoizes its superstep inputs over the edge-table scan while the
  * rank state (CorpusQueries' pg_ranks) builds, and a persisted bare
  * scan left in the CacheManager substitutes an InMemoryRelation —
  * which forgets the table's bucketing — into every later plan reading
  * that table, so the triangle probe's exchange-free REQUIRE fails.
  * Invisible in any warm-warehouse session (built = false, pageRank
  * never runs), which is exactly how it escaped five green rounds: the
  * suite and the dev box reused built state, while every fresh
  * container builds + probes in one session. The fix releases the
  * build-scoped entries when the rank layout was written by this call
  * (the pg_ranks build).
  *
  * End-to-end on purpose: a COPIED documents.parquet gets a
  * never-seen-before state tag and source fingerprint, so
  * pg_incremental_pagerank builds the rank state (running pageRank)
  * inside this very session, and only then does the triangle query's
  * own requireExchangeFreeBucketedProbe run. Between the two, the
  * poison's precondition is checked directly: the edge-state table has
  * no cached plan. */
class FreshStateProbeSpec extends SparkSpec {

  test("fresh-built graph state + probe in ONE session stays exchange-free") {
    val src = new java.io.File("/root/testdata/sf0.001/documents.parquet")
    assume(src.isFile, "driver testdata not present")
    val d = java.nio.file.Files.createTempDirectory("graft-fresh-tri")
    java.nio.file.Files.copy(src.toPath, d.resolve("documents.parquet"))
    try {
      // First the rank state's fresh build: pageRank runs and memoizes
      // its inputs, which the build must release again.
      val ranks = graft.SparkEntry.queries("pg_incremental_pagerank")(
        spark, d.toString)
      assert(ranks.count() >= 0)
      // The poison's precondition, checked directly: no persisted plan
      // over the bare edge-state scan survives the rank build.
      val edges = graft.SparkEntry.states.find(_.family == "pg_edges").get
        .name(d.toString)
      assert(!spark.catalog.isCached(edges), s"$edges scan left cached by the rank build")
      // The Q body REQUIREs the executed probe plan exchange-free on the
      // state side — with the poison present this throws, count() never
      // runs. rows >= 0 keeps the action (and the AQE-final watch) real.
      val out = graft.SparkEntry.queries("pg_incremental_triangles")(
        spark, d.toString)
      assert(out.count() >= 0)
    } finally {
      val tag = graft.ops.StateGc.tagOf(d.toString)
      spark.catalog.listTables().collect()
        .filter(_.name.endsWith(tag))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      Option(new java.io.File(graft.ops.StateTable.warehouseRoot(spark)).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(tag))
        .foreach(graft.ops.ScaleOps.deleteLocal)
    }
  }
}
