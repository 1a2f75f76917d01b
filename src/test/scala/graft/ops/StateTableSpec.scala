package graft.ops

import java.nio.file.{Files, Path, Paths}
import graft.{SparkEntry, SparkSpec}

/** The state registry against what `SparkEntry.prepare` actually writes
  * and what `StateGc` keeps, on a scratch copy of the vendored sf0.01
  * fixture: a never-seen source tag, so every generation is built by
  * this spec in this session. */
class StateTableSpec extends SparkSpec {

  test("a declaration names graft_<family>_<tag> and keys on its sources in order") {
    val dir = Files.createTempDirectory("graft_statekey")
    Files.write(dir.resolve("a.parquet"), "aa".getBytes)
    Files.write(dir.resolve("b.parquet"), "bbb".getBytes)
    val fp = (f: String) => ScaleOps.fileFingerprint(dir.resolve(f).toString)
    val t = StateTable("fam", Seq("b.parquet", "a.parquet"), "|v2")
    assert(t.name(dir.toString) == s"graft_fam_${StateGc.tagOf(dir.toString)}")
    assert(t.path(spark, dir.toString) ==
      new java.io.File(StateTable.warehouseRoot(spark), t.name(dir.toString)).toString)
    assert(t.fingerprint(dir.toString) == s"${fp("b.parquet")}|${fp("a.parquet")}|v2")
    assert(!fresh(t, dir.toString))
  }

  test("prepare builds every registered state fresh, GC keeps exactly those " +
    "generations, and a rolled source rebuilds exactly the states declaring it") {
    val fixture = Paths.get("perfbench/data/sf0.01")
    assume(Files.isDirectory(fixture), "vendored fixture not present")
    val dir = Files.createTempDirectory("graft_statereg").resolve("sf")
    Files.createDirectories(dir)
    Files.list(fixture).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val d = dir.toString
    val states = SparkEntry.states
    val wh = StateTable.warehouseRoot(spark)
    try {
      SparkEntry.prepare(spark, d)
      val names = states.map(_.name(d))
      assert(names.distinct.size == names.size, "two declarations share a name")
      assert(states.filterNot(fresh(_, d)).map(_.family).isEmpty,
        "states left stale by prepare")

      // Every generation prepare wrote is a declared one, and GC keeps
      // all of them while the source lives.
      val tag = StateGc.tagOf(d)
      val report = StateGc.run(spark, wh, Seq(d)).collect()
        .filter(_.getString(0).endsWith("_" + tag))
      assert(report.map(_.getString(0)).toSet == names.toSet)
      assert(report.forall(_.getString(5) == "keep"),
        report.filter(_.getString(5) != "keep").map(_.getString(0)).mkString(", "))

      // Roll orders.parquet's mtime: only the states declaring it go
      // stale, and the next ensure rebuilds exactly those.
      def snapshot() = states.map(t => t.family -> (t.recorded(spark, d), newestWrite(t.path(spark, d)))).toMap
      val before = snapshot()
      val orders = dir.resolve("orders.parquet")
      Files.setLastModifiedTime(orders, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(orders).toMillis + 60000L))
      val declaring = states.filter(_.sources.contains("orders.parquet")).map(_.family).toSet
      assert(declaring.contains("ivm_joinagg"))
      assert(states.filterNot(fresh(_, d)).map(_.family).toSet == declaring)
      SparkEntry.prepare(spark, d)
      val after = snapshot()
      assert(states.map(_.family).filter(f => before(f) != after(f)).toSet == declaring)
      assert(states.forall(fresh(_, d)))
    } finally {
      states.foreach { t =>
        if (t.bucketed) spark.sql(s"DROP TABLE IF EXISTS `${t.name(d)}`")
        ScaleOps.deleteLocal(new java.io.File(t.path(spark, d)))
      }
      ScaleOps.deleteLocal(dir.getParent.toFile)
    }
  }

  /** The recorded key is the current fingerprint, or extends it with a
    * writer's own layout tail (`ensureSortedBy`'s write options, the
    * bucket count of a co-bucketed pair) — the match `StateGc` keeps a
    * generation on. */
  private def fresh(t: StateTable, d: String): Boolean =
    t.recorded(spark, d).exists(r => StateGc.fpMatches(r, Set(t.fingerprint(d))))

  /** Latest modification time of any file under a generation dir. */
  private def newestWrite(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val files = Files.walk(p)
      try files.filter(Files.isRegularFile(_)).mapToLong(
        (f: Path) => Files.getLastModifiedTime(f).toMillis).max().orElse(0L)
      finally files.close()
    }
  }
}
