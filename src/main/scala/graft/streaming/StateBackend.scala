package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store backend selection for the stateful streaming family.
  *
  * Spark's default `HDFSBackedStateStoreProvider` keeps EVERY key's state
  * as JVM-heap objects on the executors (the loaded version map), so
  * operators whose state grows with the corpus — delta-dedup's
  * one-digest-per-novel-document map (q145), sharded SpaceSaving summaries
  * (q114) — eventually turn executor heaps into the scale ceiling: GC
  * pressure first, OOM at 100 TB stream lifetimes. Spark 4 ships
  * `RocksDBStateStoreProvider` in-box: state lives in native RocksDB
  * (off-heap block cache + on-disk SST files, snapshot/changelog uploads
  * to the checkpoint), so per-executor state is disk-bounded, not
  * heap-bounded, and micro-batch cost tracks the BATCH's touched keys,
  * not the store's total size.
  *
  * What a checkpoint file costs. Every micro-batch writes an offset-log
  * file, one state changelog per state partition and a commit-log file,
  * each to a temp file that is then renamed into place. Spark's default
  * checkpoint file manager goes through Hadoop's `FileContext`, whose
  * local file system (without the native Hadoop library) forks a `chmod`
  * for each created file and a `readlink` for each path of each rename:
  * about 100 forked processes per micro-batch of the events stream, which
  * cost more than the operator itself. [[withRocksDb]] therefore also
  * selects Spark's `FileSystemBasedCheckpointFileManager`, which renames
  * through `FileSystem` without those forks (one `chmod` per created temp
  * file is left). Durability is unchanged: changelog checkpointing stays
  * on, and every file is still written whole and renamed into place.
  * That rename must be atomic on the checkpoint's file system, as it is
  * on `file:` and `hdfs:`; a store without an atomic rename (an object
  * store) needs its own manager.
  *
  * The provider and the file manager are captured per-query at `start()`
  * (the stream runs on a clone of the session), and the provider is
  * recorded in the checkpoint, so restarts keep the backend they started
  * with; `CheckpointRestartSpec`/`DeltaDedupRestartSpec`/`EwmaRestartSpec`
  * pin restart-across-the-provider behavior, `StateScale` measures state
  * growth staying off-heap through 100× novel-key volume, and
  * `StateBackendSpec` pins the save/restore contract.
  */
object StateBackend {
  val ProviderConfKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ChangelogConfKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private val CheckpointManagerConfKey =
    "spark.sql.streaming.checkpointFileManagerClass"
  private val FileSystemCheckpointManager = "org.apache.spark.sql.execution." +
    "streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Run `body` with this session's streams on RocksDB, then RESTORE the
    * session's previous values of the three keys (set or unset).
    * Changelog checkpointing uploads per-batch deltas instead of full SST
    * snapshots — the production setting for large state; correctness is
    * identical (the restart specs run against exactly this config). The
    * `FileSystem` checkpoint manager writes the offset, commit and state
    * logs without forking a process per file (see above); stateless
    * streams started in `body` use it too. Both are captured per-query at
    * `start()`, so a stream started inside `body` keeps them for its
    * whole life; restoring afterwards just stops the session-wide conf
    * from leaking into later streams an embedding session starts on its
    * own. */
  def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val keys = Seq(ProviderConfKey -> RocksDbProvider,
      ChangelogConfKey -> "true",
      CheckpointManagerConfKey -> FileSystemCheckpointManager)
    // getAll holds only the keys set on the session: a key left at its
    // default is restored to unset, not pinned to the default
    val set = spark.conf.getAll
    val prior = keys.map { case (k, _) => k -> set.get(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
