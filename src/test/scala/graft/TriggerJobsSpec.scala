package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** Spark jobs per NON-folding trigger, per file commit protocol. At
  * trigger-sized batches the job count is the trigger's fixed cost, so
  * an added action on the trigger path (a count, a `head()`, a second
  * scan of the batch) fails here in the default suite instead of only
  * showing up as a slower benchmark. Jobs are attributed through a
  * local property set on the calling thread, so concurrent suites and
  * background folds never count. `compactEvery` is far above the number
  * of triggers, so no fold runs. About 20 s of the default suite on a
  * 4-core host. */
class TriggerJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Prop = "graft.test.jobCount"
  private val NoFold = 1000

  /** Jobs started by `body` on this thread, counted once every one of
    * them has also ended on the (asynchronous) listener bus. */
  private def jobsOf(body: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val started = ConcurrentHashMap.newKeySet[Integer]()
    val ended = ConcurrentHashMap.newKeySet[Integer]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Prop) == tag)
          started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(Prop, tag)
      try body finally sc.setLocalProperty(Prop, null)
      var stable = 0; var last = -1; var waited = 0
      def settled = started.stream().allMatch(ended.contains(_))
      while ((stable < 3 || !settled) && waited < 10000) {
        Thread.sleep(100); waited += 100
        if (started.size == last && settled) stable += 1
        else { stable = 0; last = started.size }
      }
      started.size
    } finally sc.removeSparkListener(l)
  }

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private val ops = ChangeGen.ops(seed = 23L, n = 1000)
  private val (snapOps, streamOps) = ops.splitAt(200)
  private val batches = streamOps.grouped(200).toSeq

  private val (pOps, aOps) = ChangeGen.mtOps(seed = 29L, nPerson = 800,
    nAccount = 800)
  private def mtBatch(i: Int, withAccount: Boolean = true): DataFrame =
    MultiTable.parseAll(
      (pOps.slice(i * 200, i * 200 + 200).map(ChangeGen.toJsonLine) ++
        (if (withAccount) aOps.slice(i * 200, i * 200 + 200)
          .map(ChangeGen.toAccountJsonLine(_)) else Nil)).toDF("value"),
      MtTestSpecs.both)

  test("rename-aside replica: 2 jobs per non-folding trigger") {
    val dir = tmp("jobs-rename")
    Replicate.snapshot(spark, ChangeGen.replay(snapOps).values.toSeq.toDS(),
      dir, numBuckets = 4)
    val counts = batches.zipWithIndex.map { case (b, i) =>
      jobsOf(Replicate.applyBatch(spark, ChangeGen.toChanges(b).toDS(), dir,
        numBuckets = 4, batchId = i.toLong, compactEvery = NoFold,
        compactAsync = true))
    }
    assert(counts.drop(1).forall(_ == 2), s"jobs per trigger: $counts")
    assert(Replicate.readReplica(spark, dir).count() ===
      ChangeGen.replay(ops).size.toLong)
  }

  test("manifest replica: 2 jobs per non-folding trigger") {
    val dir = tmp("jobs-manifest")
    ManifestReplica.snapshot(spark,
      ChangeGen.replay(snapOps).values.toSeq.toDS(), dir, numBuckets = 4)
    val counts = batches.zipWithIndex.map { case (b, i) =>
      jobsOf(ManifestReplica.applyBatch(spark, ChangeGen.toChanges(b).toDS(),
        dir, numBuckets = 4, batchId = i.toLong, compactEvery = NoFold,
        compactAsync = true))
    }
    assert(counts.drop(1).forall(_ == 2), s"jobs per trigger: $counts")
    assert(ManifestReplica.readReplica(spark, dir).count() ===
      ChangeGen.replay(ops).size.toLong)
  }

  test("multi-table rename replica: 3-job presence check + 2 jobs per active table") {
    val root = tmp("jobs-mt")
    val both = (0 until 3).map(i => jobsOf(MultiTable.applyBatch(spark,
      mtBatch(i), root, MtTestSpecs.both, batchId = i.toLong,
      compactEvery = NoFold)))
    val one = jobsOf(MultiTable.applyBatch(spark,
      mtBatch(3, withAccount = false), root, MtTestSpecs.both,
      batchId = 3L, compactEvery = NoFold))
    assert(both.drop(1).forall(_ == 7), s"two-table triggers: $both")
    assert(one === 5, s"an idle table must cost no job ($both, $one)")
  }

  test("multi-table manifest replica: 3-job presence check + 2 jobs per active table") {
    val root = tmp("jobs-mt-manifest")
    val both = (0 until 3).map(i => jobsOf(ManifestMultiTable.applyBatch(
      spark, mtBatch(i), root, MtTestSpecs.both, batchId = i.toLong,
      compactEvery = NoFold)))
    val one = jobsOf(ManifestMultiTable.applyBatch(spark,
      mtBatch(3, withAccount = false), root, MtTestSpecs.both,
      batchId = 3L, compactEvery = NoFold))
    assert(both.drop(1).forall(_ == 7), s"two-table triggers: $both")
    assert(one === 5, s"an idle table must cost no job ($both, $one)")
  }
}
