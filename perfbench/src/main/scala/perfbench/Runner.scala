package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: a closed loop with a single client that
  * drives the engine through its public entry points only —
  * `SparkEntry.prepare`'s state steps, `SparkEntry.queries(name)(spark, dir)` followed
  * by `.count()`, and `PlanChecks.drainFinalPlanViolations()`.
  *
  * Phases: session start; the drift witness and input pre-touch; a first
  * pass in the fresh JVM; one warm-up pass; measured passes for the
  * requested seconds; then the [[SetupSteps]] of `prepare` once per setup input
  * (fresh state each; the median is the setup figure). The last measured
  * pass also writes every result as parquet (untimed) for the full
  * compare that `run.py` makes against DuckDB.
  * With `--trace 1` measured passes alternate traced / untraced so the
  * record carries the tracing overhead next to the per-layer numbers.
  *
  * The record goes to `--out` as JSON; run.py turns it into metrics.
  *
  * {{{
  * java <jvm flags> perfbench.Runner --queries q.txt --input dir
  *   --setup-inputs d1,d2,d3 --scratch root --seconds 5 --trace 0 --out rec.json
  * }}}
  */
object Runner {
  val TagKey = "perfbench.query"
  val Cores = 4
  /** Measured passes per run, at least; the tail percentile is chosen
    * for this many samples per query. */
  val MinPasses = 4

  /** The steps of `SparkEntry.prepare` a run times as its setup: the
    * persisted ivm_* tally and HLL states that corpus_dedup reads. The
    * whole of `prepare` writes 20 states (37-70 s on four cores at
    * sf0.01), more than one run can afford. */
  val SetupSteps: Seq[(SparkSession, String) => Unit] = Seq(
    graft.queries.CorpusQueries.prepareTallyState,
    graft.queries.CorpusQueries.prepareHllState)

  final case class Exec(pass: Int, name: String, startMs: Long, endMs: Long,
                        buildS: Double, actionS: Double, count: Long,
                        err: String, tmpDelta: Int)
  final case class Pass(index: Int, kind: String, traced: Boolean,
                        execs: Seq[Exec], violations: Seq[String],
                        tmpEntries: Int, tmpBytes: Long, fs: Map[String, Long],
                        cpuS: Double, stealFrac: Double) {
    def wall: Double = execs.map(e => e.buildS + e.actionS).sum
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = Files.readAllLines(Paths.get(opt("queries"))).asScala.map(_.trim).filter(_.nonEmpty).toVector
    val input = opt("input")
    val setupInputs = opt.getOrElse("setup-inputs", "").split(",").filter(_.nonEmpty).toSeq
    val scratch = new File(opt("scratch")).getAbsoluteFile
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val streamPrefix = "st_"

    val tmpDir = new File(System.getProperty("java.io.tmpdir"))
    val warehouse = new File(scratch, "warehouse")
    val ckptDir = new File(scratch, "ckpt")
    val resultsDir = new File(scratch, "results")
    Seq(tmpDir, warehouse, ckptDir, resultsDir).foreach(_.mkdirs())

    val builder = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.local.dir", new File(scratch, "local").toString)
    if (traced) builder.config("spark.sql.queryExecutionListeners", classOf[CatalystListener].getName)
    val spark = builder.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.setCheckpointDir(ckptDir.toString)
    val sessionStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    // Harness work, after the session so that setup_s does not count it.
    val calibBefore = Host.calibrate()
    val (probeMbS, sweepMbS) = Host.pretouch(new File(input))

    var prepareWriteBytes = 0L
    val queries = graft.SparkEntry.queries
    val tracer = if (traced) Some(new Tracer(spark, Cores)) else None

    def tmpEntries(): Int = Option(tmpDir.list()).map(_.length).getOrElse(0)

    def runPass(index: Int, kind: String, trace: Boolean, write: Boolean): Pass = {
      tracer.foreach(_.enabled = trace)
      val fs0 = Host.fsStats()
      val cpu0 = Host.processCpuNs()
      val (all0, steal0) = Host.cpuTicks()
      val execs = names.map { name =>
        val stream = name.startsWith(streamPrefix)
        val tmp0 = if (stream) tmpEntries() else 0
        sc.setLocalProperty(TagKey, s"$index:$name")
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        var df: DataFrame = null
        var n = -1L
        var err: String = null
        try {
          val fn = queries.getOrElse(name, throw new NoSuchElementException(s"no query named $name"))
          df = fn(spark, input)
          t1 = System.nanoTime()
          n = df.count()
        } catch {
          case e: Throwable =>
            if (t1 == t0) t1 = System.nanoTime()
            err = (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)
        }
        val t2 = System.nanoTime()
        val w2 = System.currentTimeMillis()
        sc.setLocalProperty(TagKey, null)
        if (write && err == null) {
          // Untimed and untraced: the result write is not the query's work.
          tracer.foreach(_.enabled = false)
          try df.coalesce(1).write.mode("overwrite").parquet(new File(resultsDir, name).toString)
          catch { case e: Throwable => err = ("result write: " + e.getMessage).take(300) }
          tracer.foreach(_.enabled = trace)
        }
        Exec(index, name, w0, w2, (t1 - t0) / 1e9, (t2 - t1) / 1e9, n, err,
          if (stream) tmpEntries() - tmp0 else 0)
      }
      org.apache.spark.sql.GraftShim.flushListenerBus(spark)
      val vio = graft.plans.PlanChecks.drainFinalPlanViolations().map(v => s"${v.what} (${v.fragment})")
      val fs1 = Host.fsStats()
      val (all1, steal1) = Host.cpuTicks()
      val p = Pass(index, kind, trace, execs, vio, tmpEntries(), Host.treeBytes(tmpDir),
        fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) },
        (Host.processCpuNs() - cpu0) / 1e9,
        if (all1 > all0) (steal1 - steal0).toDouble / (all1 - all0) else 0.0)
      System.err.println(f"[perfbench] pass $index%d $kind%s${if (trace) " traced" else ""}%s: " +
        f"${p.wall}%.3f s, ${execs.count(_.err != null)}%d errors, ${vio.size}%d violations")
      p
    }

    val codegen0 = Host.codegen()
    val passes = Vector.newBuilder[Pass]
    var index = 0
    val first = runPass(index, "first", trace = false, write = false)
    val codegenFirst = Host.codegen().zip(codegen0).map { case (a, b) => a - b }
    passes += first
    index += 1
    val warm = runPass(index, "warmup", trace = false, write = false)
    passes += warm
    index += 1
    var prev = warm.wall
    // Measured passes: at least `MinPasses`, for `seconds`; the pass that
    // is expected to cross the deadline is the last and writes results.
    val m0 = System.nanoTime()
    var measured = 0
    var done = false
    while (!done) {
      val elapsed = (System.nanoTime() - m0) / 1e9
      val last = measured + 1 >= MinPasses && elapsed + prev >= seconds
      val p = runPass(index, "measured", trace = traced && measured % 2 == 0, write = last)
      passes += p
      prev = p.wall
      index += 1; measured += 1
      done = last
    }
    val measuredS = (System.nanoTime() - m0) / 1e9

    val cachedRdds = sc.getPersistentRDDs.size
    val cachedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val heapLive = Host.heapLiveBytes()
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val rssPeak = Host.rssPeakBytes()
    val diskBytes = Host.treeBytes(warehouse) + Host.treeBytes(ckptDir) + Host.treeBytes(tmpDir)
    // Setup, timed after the measured passes so its cold-JVM cost does
    // not inflate the run: the state-writing steps of `SparkEntry.prepare`
    // on each setup input in turn, each on a warehouse that holds no state
    // for that input yet (state paths are keyed by the input path). The
    // state is dropped again after each, so heap and disk figures above
    // are the workload's own.
    tracer.foreach(_.enabled = false)
    val prepareS = setupInputs.map { dir =>
      val t0 = System.nanoTime()
      SetupSteps.foreach(_(spark, dir))
      val s = (System.nanoTime() - t0) / 1e9
      val tag = dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
      val written = Option(warehouse.listFiles()).toSeq.flatten.filter(_.getName.contains(tag))
      prepareWriteBytes = written.map(Host.treeBytes).sum
      written.foreach(Host.deleteTree)
      spark.catalog.clearCache()
      s
    }
    val calibAfter = Host.calibrate()
    val all = passes.result()

    val oracle = graft.SparkEntry.oracleSql
    val record = Map(
      "names" -> names,
      "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "min_passes" -> MinPasses,
      "session_start_s" -> sessionStartS,
      "prepare_s" -> prepareS,
      "prepare_write_bytes" -> prepareWriteBytes,
      "measured_s" -> measuredS,
      "calib_ms_before" -> calibBefore,
      "calib_ms_after" -> calibAfter,
      "pretouch_probe_mb_s" -> probeMbS,
      "pretouch_sweep_mb_s" -> sweepMbS,
      "heap_live_bytes" -> heapLive,
      "jvm_gc_s" -> gcS,
      "rss_peak_bytes" -> rssPeak,
      "disk_bytes" -> diskBytes,
      "checkpoint_bytes" -> Host.treeBytes(ckptDir),
      "cached_rdds" -> cachedRdds,
      "cached_bytes" -> cachedBytes,
      "codegen_first_pass" -> codegenFirst,
      "passes" -> all.map { p =>
        Map(
          "index" -> p.index, "kind" -> p.kind, "traced" -> p.traced,
          "wall_s" -> p.wall, "violations" -> p.violations,
          "tmp_entries" -> p.tmpEntries, "tmp_bytes" -> p.tmpBytes,
          "cpu_s" -> p.cpuS, "steal_frac" -> p.stealFrac, "fs" -> p.fs,
          "execs" -> p.execs.map { e =>
            Map(
              "name" -> e.name, "start_ms" -> e.startMs, "end_ms" -> e.endMs,
              "build_s" -> e.buildS, "action_s" -> e.actionS,
              "count" -> e.count, "tmp_delta" -> e.tmpDelta) ++
              Option(e.err).map("err" -> _)
          })
      }) ++
      tracer.map(t => "trace" -> t.summary(all.filter(p => p.kind == "measured" && p.traced).flatMap(_.execs)))
    val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
    Files.writeString(Paths.get(opt("out")), mapper.writeValueAsString(record))
    spark.stop()
  }
}
