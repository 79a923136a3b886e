package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** `StateBackend.withRocksDb`'s contract: inside the body the provider,
  * changelog and checkpoint-manager keys hold the RocksDB values; after
  * it, each key is back to what it was, set or unset, also when the body
  * throws; a stream started inside keeps the backend for its life. The
  * keys are spelled out here, not read from `StateBackend`, so a renamed
  * or dropped key fails the spec. */
class StateBackendSpec extends AnyFunSuite with SparkTestBase {

  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val Changelog =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private val Manager = "spark.sql.streaming.checkpointFileManagerClass"
  private val Keys = Seq(Provider, Changelog, Manager)

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val FileSystemManager = "org.apache.spark.sql.execution." +
    "streaming.checkpointing.FileSystemBasedCheckpointFileManager"
  private val Inside = Map(Provider -> RocksDb, Changelog -> "true",
    Manager -> FileSystemManager)

  // prior values that differ from every value withRocksDb sets
  private val WasSet: Map[String, Option[String]] = Map(
    Provider -> Some(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"),
    Changelog -> Some("false"),
    Manager -> Some("org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileContextBasedCheckpointFileManager"))
  private val WasUnset: Map[String, Option[String]] =
    Keys.map(_ -> None).toMap

  /** The keys as set on the session (`getOption` would show a default). */
  private def current(): Map[String, Option[String]] = {
    val set = spark.conf.getAll
    Keys.map(k => k -> set.get(k)).toMap
  }

  private def put(values: Map[String, Option[String]]): Unit =
    values.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }

  /** Put the keys in `prior` (None = unset), run `f`, then put back what
    * the shared session held before. */
  private def withPrior(prior: Map[String, Option[String]])(f: => Unit): Unit = {
    val session = current()
    try { put(prior); f } finally put(session)
  }

  /** The checkpoint manager class behind a query's offset or commit log
    * (the accessors are not public in Scala). */
  private def logManager(exec: AnyRef, log: String): String = {
    def call(o: AnyRef, m: String): AnyRef = o.getClass.getMethod(m).invoke(o)
    call(call(exec, log), "fileManager").getClass.getName
  }

  for ((label, prior) <- Seq("unset" -> WasUnset, "set" -> WasSet)) {
    test(s"[prior $label] inside, the three keys hold the RocksDB values; " +
        "afterwards each is back to its prior value") {
      withPrior(prior) {
        val seen = StateBackend.withRocksDb(spark)(current())
        Keys.foreach { k =>
          assert(seen(k) === Some(Inside(k)), s"inside: $k")
        }
        assert(current() === prior)
      }
    }

    test(s"[prior $label] a throwing body still restores every key") {
      withPrior(prior) {
        val e = intercept[IllegalStateException] {
          StateBackend.withRocksDb(spark)(throw new IllegalStateException("x"))
        }
        assert(e.getMessage === "x")
        assert(current() === prior)
      }
    }
  }

  test("a stream started inside keeps the FileSystem checkpoint manager " +
      "for its logs after the keys are restored") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sbe").toString
    withPrior(WasSet) {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[Int]
      val q = StateBackend.withRocksDb(spark) {
        mem.toDS().writeStream.format("noop")
          .option("checkpointLocation", s"$dir/_ckpt").start()
      }
      try {
        assert(current() === WasSet)
        mem.addData(1, 2, 3)
        q.processAllAvailable()
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        assert(logManager(exec, "offsetLog") === FileSystemManager)
        assert(logManager(exec, "commitLog") === FileSystemManager)
      } finally q.stop()
    }
  }
}
