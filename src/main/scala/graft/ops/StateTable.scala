package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One persisted state, declared once: where it lives, what it is keyed
  * on and how it is built.
  *
  *  - Name: `graft_<family>_<tag>`, tag = [[StateGc.tagOf]] of the source
  *    dir — a catalog table when `bucketed`, otherwise a parquet
  *    directory under the warehouse root.
  *  - Fingerprint: the current `len:mtime` of each declared source file
  *    under the dir, `|`-joined in declaration order, then the literal
  *    `suffix` naming a derivation-format version (`|p99`, `|v2`,
  *    `:synthoff=1e12`). Reuse is sound only while this key names the
  *    input generation, so every source the state derives from must be
  *    declared.
  *  - Build: writes the generation through a ScaleOps `ensure*` writer
  *    keyed on [[fingerprint]], so it is a no-op while the recorded key
  *    still matches. A build reads other states only through their
  *    [[read]] / [[readLong]], which ensure them first.
  *
  * This is the only code that names a state, renders a source-dir tag
  * or reads the warehouse root. States declared through
  * [[StateTable.Registry]] are what `SparkEntry.prepare` builds, in
  * declaration order, and what `StateGc` keeps while their sources
  * live. A state with no build (a stream lineage, a query-written
  * layout) uses the same naming and key, and is built by its own
  * caller. */
final class StateTable(val family: String, val sources: Seq[String],
                       val suffix: String, val bucketed: Boolean)(
    build: (StateTable, SparkSession, String) => Unit) {

  def name(d: String): String = s"graft_${family}_${StateGc.tagOf(d)}"

  def path(s: SparkSession, d: String): String =
    new java.io.File(StateTable.warehouseRoot(s), name(d)).toString

  def fingerprint(d: String): String =
    sources.map(f => ScaleOps.fileFingerprint(s"$d/$f")).mkString("|") + suffix

  def ensure(s: SparkSession, d: String): Unit = build(this, s, d)

  /** Ensure, then read the generation. */
  def read(s: SparkSession, d: String): DataFrame = {
    ensure(s, d)
    if (bucketed) s.table(name(d)) else s.read.parquet(path(s, d))
  }

  /** Ensure, then read a 1-row statistic checkpoint (a derived probe
    * cap), memoized per generation by [[ScaleOps.readStatLong]]. */
  def readLong(s: SparkSession, d: String): Long = {
    ensure(s, d)
    ScaleOps.readStatLong(s, path(s, d), fingerprint(d))
  }

  /** The key the generation was written under, if it exists. */
  def recorded(s: SparkSession, d: String): Option[String] =
    StateGc.recordedKey(s, name(d), path(s, d))
}

object StateTable {

  /** A key-only state: named and fingerprinted like a declared one,
    * built by its caller. */
  def apply(family: String, sources: Seq[String], suffix: String = ""): StateTable =
    new StateTable(family, sources, suffix, bucketed = false)((_, _, _) => ())

  /** The warehouse root every state generation lives under. */
  def warehouseRoot(s: SparkSession): String =
    s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  /** Mixed into an object that declares persisted states: each
    * declaration registers itself, in declaration order. */
  trait Registry {
    private val declared = scala.collection.mutable.ArrayBuffer.empty[StateTable]

    def states: Seq[StateTable] = declared.toSeq

    protected def state(family: String, sources: Seq[String], suffix: String = "",
                        bucketed: Boolean = false)(
        build: (StateTable, SparkSession, String) => Unit): StateTable = {
      val t = new StateTable(family, sources, suffix, bucketed)(build)
      declared += t
      t
    }

    /** A small state written range-clustered on `key` into one file
      * ([[ScaleOps.ensureSortedByLazy]]: the frame is only built when
      * the generation is stale). */
    protected def sortedState(family: String, sources: Seq[String], key: String,
                              suffix: String = "")(
        frame: (SparkSession, String) => DataFrame): StateTable =
      state(family, sources, suffix) { (t, s, d) =>
        ScaleOps.ensureSortedByLazy(s, t.path(s, d), key, numFiles = 1,
          srcFingerprint = t.fingerprint(d))(frame(s, d))
        ()
      }

    /** A bucketed+sorted catalog table on the probe-join `keys`, bucket
      * count derived from its own size ([[ScaleOps.ensureBucketedDerived]]). */
    protected def bucketedState(family: String, sources: Seq[String], keys: Seq[String],
                                suffix: String = "", sortCols: Seq[String] = Nil)(
        frame: (SparkSession, String) => DataFrame): StateTable =
      state(family, sources, suffix, bucketed = true) { (t, s, d) =>
        ScaleOps.ensureBucketedDerived(frame(s, d), t.name(d), keys,
          srcFingerprint = t.fingerprint(d), sortCols = sortCols)
        ()
      }
  }
}
