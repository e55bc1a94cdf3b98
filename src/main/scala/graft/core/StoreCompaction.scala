package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-file compaction for the FLAT append-only stores (fingerprint /
  * band-key / simhash / embedding-bucket): every batch append adds a
  * file set, and after months of daily increments the store is thousands
  * of tiny parquet files whose listing + open cost dominates each probe.
  * Compaction rewrites the store's data files into size-targeted files
  * via a temp-dir swap — the same pattern as the BM25 index's
  * [[graft.operators.Search.compactIndexSegments]] — while PRESERVING
  * underscore sidecars (`_meta_params`, `_bloom`): only data files are
  * replaced, so the store's recorded fit parameters and bloom sketch
  * survive.
  *
  * Row multiset is unchanged (this is a file-layout operation, not a
  * dedupe; fingerprint stores may legitimately hold duplicate rows from
  * re-landed batches and membership semantics don't care). Scope: flat
  * single-directory stores only — the partitioned index stores (IVF,
  * BM25 segments) have their own compactors, and the TF-IDF store
  * compacts by re-running `Tfidf.saveStore` over the corpus (which also
  * restores the postings df-cap invariant appends degrade).
  *
  * Not concurrency-safe against a simultaneous append (neither is the
  * reference's maintenance window); run it where store maintenance
  * already runs — post-commit, single-writer.
  */
object StoreCompaction {

  /** A flat store's data files: top-level files except underscore
    * sidecars and dot files.
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")
    }

  /** How many data files `storePath` holds (0 if it does not exist yet)
    * — the small-file count a compaction cadence compares against.
    */
  private[graft] def dataFileCount(spark: SparkSession, storePath: String): Int = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root)) dataFiles(fs, root).size else 0
  }

  /** Rewrite `storePath`'s parquet data files into
    * ~`targetFileBytes`-sized files. Returns (filesBefore, filesAfter).
    */
  def compactFlatStore(spark: SparkSession, storePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"no store at $storePath")
    val before = dataFiles(fs, root)
    if (before.isEmpty) return (0, 0)
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = new Path(root.getParent, root.getName + "_compact_tmp")
    fs.delete(tmp, true)
    // repartition, not coalesce: coalesce(1) over thousands of inputs
    // funnels the whole store through few tasks; the shuffle is sized
    // by the store's narrow rows and runs once per maintenance window
    spark.read.parquet(storePath)
      .repartition(n)
      .write.mode("overwrite").parquet(tmp.toString)
    // swap ORDER matters for crash safety: rename the compacted files
    // IN first (part-file names carry a fresh job UUID, so they can
    // never collide with the old set), delete the old files after. A
    // driver crash mid-swap then leaves the root with old + some new
    // files — harmless duplication under the documented membership
    // semantics, recovered by the next compaction — instead of a
    // window where the store has NO data files (all data stranded in
    // the tmp dir and the next read failing on schema inference).
    val moved = dataFiles(fs, tmp)
    moved.foreach(st =>
      fs.rename(st.getPath, new Path(root, st.getPath.getName)))
    before.foreach(st => fs.delete(st.getPath, false))
    fs.delete(tmp, true)
    (before.size, moved.size)
  }
}
