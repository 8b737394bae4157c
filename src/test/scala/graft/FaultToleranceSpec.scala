package graft

import java.util.concurrent.atomic.AtomicBoolean

import graft.ops.UrlCount

/** Spark-native analog of the reference's failure-injection suite
  * (/root/reference/src/mapreduce/test_test.go:193-227 TestOneFailure /
  * TestManyFailures, backed by the re-queue-on-failure scheduler path
  * schedule.go:75-77): the reference kills workers mid-job and asserts
  * the golden output still appears. Here the scheduler IS Spark
  * (spark.task.maxFailures via local[4, 2] in SparkSpec), so the test
  * injects a one-shot task failure and asserts the retried job still
  * produces the exact expected result.
  */
object FaultToleranceSpec {
  // JVM-static so the injected failure state survives task retries
  // (local mode: tasks run in this JVM)
  val failedOnce = new AtomicBoolean(false)
}

class FaultToleranceSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  // Task retry needs maxFailures >= 2, which the shared local[4] test
  // session deliberately lacks (retry there would mask real flakes —
  // ADVICE r3). Suites run sequentially in the forked test JVM, so this
  // suite stops whatever session is active, runs on its own local[4, 2],
  // and stops it afterwards; the next suite's getOrCreate then rebuilds
  // the shared local[4] session.
  override lazy val spark: org.apache.spark.sql.SparkSession = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(_.stop())
    GraftSession.build("local[4, 2]", shufflePartitions = 4)
  }

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }

  test("task failure is retried and the job still yields the golden counts") {
    import spark.implicits._
    val lines = (0 until 100).map(i => s"tok${i % 7} tok${i % 3}")
    val expected = lines.flatMap(_.split(" ")).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }

    FaultToleranceSpec.failedOnce.set(false)
    val flaky = spark.createDataset(lines).toDF("text")
      .repartition(4)
      .mapPartitions { it =>
        if (FaultToleranceSpec.failedOnce.compareAndSet(false, true))
          throw new RuntimeException("injected one-shot task failure")
        it
      }(org.apache.spark.sql.Encoders.row(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))))

    val got = UrlCount.tokenCounts(flaky, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(FaultToleranceSpec.failedOnce.get, "failure was injected")
    assert(got === expected)
  }
}
