package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit

import graft.functions.OracleHash
import graft.plans.TokenCountRewrite
import graft.streaming.StreamingOps

/** GraftSession.build is the engine's one session factory: every main
  * and the test session build through it, so for the same inputs every
  * entry point resolves the same confs. Pins
  *  - that no other `src/main` file builds a session;
  *  - the resolved `spark.sql.*` / `spark.graft.*` table for fixed inputs,
  *    including the two rules derived from an sfDir's events bytes;
  *  - the no-sfDir fallback the test session runs on;
  *  - that building twice keeps one registration of the SQL surface.
  */
class SessionFactorySpec extends SparkSpec {
  private val MB = 1L << 20
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val partitionsKey = "spark.graft.streamStatePartitions"
  private val env = Map("SPARK_GRAFT_CPUS" -> "8")

  /** An sfDir whose events table is one sparse file of `bytes` bytes. */
  private def sfDirWithEvents(bytes: Long): String = {
    val dir = tempSfDir()
    val events = new File(s"$dir/events.parquet")
    events.mkdirs()
    val f = new RandomAccessFile(new File(events, "part-00000.parquet"), "rw")
    try f.setLength(bytes) finally f.close()
    dir
  }

  private def sqlAndGraft(confs: Seq[(String, String)]): Map[String, String] =
    confs.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.graft.")
    }.toMap

  test("SparkSession.builder occurs once in src/main, in GraftSession.scala") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"no src/main under ${Paths.get("").toAbsolutePath}")
    val uses = Files.walk(main).iterator.asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> (Files.readString(p).split("SparkSession\\.builder", -1).length - 1))
      .filter(_._2 > 0)
      .map { case (p, n) => main.relativize(p).toString -> n }
    assert(uses === Seq("scala/graft/GraftSession.scala" -> 1))
  }

  test("fixed inputs resolve the pinned spark.sql.* and spark.graft.* table") {
    val shared = Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.codegen.hugeMethodLimit" -> "8000",
      "spark.sql.files.openCostInBytes" -> "1048576",
      "spark.sql.codegen.cache.maxEntries" -> "1000",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    // (events bytes, master) -> (provider, state partitions)
    val cases = Seq(
      (2 * MB, "local-cluster[2,8,1024]") -> (GraftSession.onHeapProvider, "4"),
      (40 * MB, "local-cluster[2,8,1024]") -> (GraftSession.onHeapProvider, "8"),
      (256 * MB, "local-cluster[2,8,1024]") -> (GraftSession.rocksDbProvider, "8"))
    for (((bytes, master), (provider, partitions)) <- cases) {
      val confs = GraftSession.settings(master, 8, Some(sfDirWithEvents(bytes)), env)
      val got = sqlAndGraft(confs)
      assert(got === shared ++ Map(providerKey -> provider, partitionsKey -> partitions),
        s"at $bytes bytes")
      // the derived values are the rules' own answers on the dir's bytes
      assert(got(providerKey) === GraftSession.autoStateStoreProvider(bytes,
        GraftSession.executorHeapBytesFor(master), GraftSession.numExecutorsFor(master)))
      assert(got(partitionsKey) === StreamingOps.sizeStatePartitions(bytes, 8).toString)
      assert(confs.toMap.get("spark.executor.memory") === Some("1024m"))
    }
  }

  test("deployment env overrides resolve in the factory, typos fail at build") {
    val dir = sfDirWithEvents(2 * MB)
    val got = GraftSession.settings("local[8]", 8, Some(dir), env ++ Map(
      "SPARK_GRAFT_STATESTORE" -> "rocksdb",
      "SPARK_GRAFT_STREAM_STATE_PARTITIONS" -> "7",
      "SPARK_GRAFT_RELIABLE" -> "true",
      "SPARK_GRAFT_EXECUTOR_CLASSPATH" -> "/deploy/classes")).toMap
    assert(got(providerKey) === GraftSession.rocksDbProvider)
    assert(got(partitionsKey) === "7")
    assert(got("spark.graft.reliableCheckpoint") === "true")
    assert(got("spark.executor.extraClassPath") === "/deploy/classes")
    assert(!got.contains("spark.executor.memory"), "local[n] runs in this JVM's heap")
    intercept[IllegalArgumentException] {
      GraftSession.settings("local[8]", 8, Some(dir), env + ("SPARK_GRAFT_STATESTORE" -> "rocksDB"))
    }
  }

  test("with no sfDir the session keeps the on-heap provider and 4 state partitions") {
    val confs = GraftSession.settings("local[4]", 4, None, env)
    assert(!confs.exists { case (k, _) => k == providerKey || k == partitionsKey })
    // the live test session was built from exactly these settings
    sqlAndGraft(GraftSession.settings("local[4]", 4, None)).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, k)
    }
    assert(spark.conf.get(providerKey) === GraftSession.onHeapProvider)
    assert(StreamingOps.stateShufflePartitions(spark) === 4)
  }

  test("building twice registers the rewrite once and keeps graft_h60 resolvable") {
    val first = GraftSession.build("local[4]", shufflePartitions = 4)
    val again = GraftSession.build("local[4]", shufflePartitions = 4)
    assert(first eq again)
    assert(again.experimental.extraOptimizations.count(_ == TokenCountRewrite) === 1)
    val viaSql = again.sql("SELECT graft_h60('abc')").collect()(0).getLong(0)
    val viaCol = again.range(1).select(OracleHash.h60(lit("abc"))).collect()(0).getLong(0)
    assert(viaSql === viaCol)
  }
}
