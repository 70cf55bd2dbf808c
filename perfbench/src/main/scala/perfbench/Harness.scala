package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.cdc.{ChangeGen, ChangeSource, ManifestReplica, PersonChange, PersonRow, Replicate}

/** One benchmark run in one JVM: set up a replica, drive a workload
  * through the engine's public entry points, check the replica against
  * [[ChangeGen.replay]], and write every raw observation (file arrivals,
  * streaming progress, read timings, and with tracing on the spans,
  * jobs, stages and tasks) as one JSON file. All metric math lives in
  * `metrics.py`; this side only observes.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <cpus> <tmpRoot> <out.json>
  */
object Harness {

  /** Inputs of one workload. A live workload writes `files` on an
    * open-loop schedule across the measured seconds; a backlog workload
    * writes them before the stream starts. Then [[Reads]] reads run one
    * after another (closed loop) on the quiesced, fully folded replica.
    * `warmFiles` of the stream's files are replayed on a throwaway
    * replica first, `warmFilesPerTrigger` at a time. */
  final case class Shape(
      protocol: String,          // "rename" (Replicate) | "manifest" (ManifestReplica)
      snapshotOps: Int,
      files: Int,
      opsPerFile: Int,
      live: Boolean,
      maxFilesPerTrigger: Option[Int],
      warmFiles: Int,
      warmFilesPerTrigger: Int)

  def shape(workload: String, seconds: Int): Shape = workload match {
    case "cdc_steady" => Shape("manifest", 30000, files = 10 * seconds,
      opsPerFile = 100, live = true, maxFilesPerTrigger = None,
      warmFiles = 10, warmFilesPerTrigger = 1)
    case "cdc_catchup" => Shape("rename", 60000, files = 100,
      opsPerFile = 1000, live = false, maxFilesPerTrigger = Some(10),
      warmFiles = 20, warmFilesPerTrigger = 10)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Reads per run: enough for a median with ten samples beyond it. */
  val Reads = 20
  val ReadKinds = Seq("point", "count", "scan")
  val SpanProp = "perfbench.span"
  val SnapshotReps = 3

  // ---- clock: epoch milliseconds with sub-millisecond resolution ----
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private def parkUntil(ms: Double): Unit = {
    var left = ms - nowMs
    while (left > 0) {
      LockSupport.parkNanos((left * 1e6).toLong)
      left = ms - nowMs
    }
  }

  // ---- tracing: spans kept in memory, written at the end ----
  final case class Span(id: String, name: String, start: Double,
      end: Double, parent: String, run: String)

  final class Trace(val on: Boolean, val run: String) {
    val spans = new ConcurrentLinkedQueue[Span]()
    private val ids = new AtomicLong()
    def span[A](name: String, parent: String)(body: String => A): A =
      if (!on) body("")
      else {
        val id = s"$name-${ids.incrementAndGet()}"
        val t0 = nowMs
        try body(id) finally spans.add(Span(id, name, t0, nowMs, parent, run))
      }
  }

  /** Collects progress of one streaming query, and with tracing on the
    * Spark jobs, stages and tasks of the whole session. */
  final class Observer(spark: SparkSession, traced: Boolean) {
    val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
    val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
    val tasks = new ConcurrentLinkedQueue[Seq[Double]]()
    val rowsSeen = new AtomicLong()

    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      // attached only while the one timed query runs
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Map(
          "batch" -> p.batchId,
          "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "rows" -> p.numInputRows,
          "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
        rowsSeen.addAndGet(p.numInputRows)
      }
    }

    val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
        jobs.add(Map("id" -> e.jobId, "start" -> e.time.toDouble,
          "stages" -> e.stageIds, "parent" -> prop(SpanProp),
          "pool" -> prop("spark.scheduler.pool")))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobEnds.put(e.jobId, e.time.toDouble)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val m = s.taskMetrics
        stages.add(Map("id" -> s.stageId, "tasks" -> s.numTasks,
          "task_ms" -> (if (m == null) 0L else m.executorRunTime),
          "shuffle_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "bytes_written" -> (if (m == null) 0L else m.outputMetrics.bytesWritten)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.add(Seq(e.stageId.toDouble, e.taskInfo.launchTime.toDouble,
          e.taskInfo.finishTime.toDouble))
    }

    def attach(): Unit = {
      spark.streams.addListener(streamListener)
      if (traced) spark.sparkContext.addSparkListener(sparkListener)
    }

    /** Detach once every job seen has ended (listener delivery is
      * asynchronous), or after a bounded wait. */
    def detach(): Unit = {
      val deadline = nowMs + 5000
      var stableSince = nowMs
      var last = -1
      while (traced && nowMs < deadline &&
          !(jobs.size == jobEnds.size && jobs.size == last && nowMs - stableSince > 300)) {
        if (jobs.size != last) { last = jobs.size; stableSince = nowMs }
        Thread.sleep(50)
      }
      spark.streams.removeListener(streamListener)
      if (traced) spark.sparkContext.removeSparkListener(sparkListener)
    }

    def jobsJson: Seq[Map[String, Any]] = jobs.asScala.toSeq.map { j =>
      j + ("end" -> Option(jobEnds.get(j("id").asInstanceOf[Int])).getOrElse(-1.0))
    }
  }

  // ---- the replica under test, behind one of its two protocols ----
  final class Replica(spark: SparkSession, protocol: String) {
    import spark.implicits._
    val manifest = protocol == "manifest"
    val deltaMarker = if (manifest) "/delta/batch=" else "/.__delta/batch="

    def snapshot(rows: Seq[PersonRow], dir: String): Unit =
      if (manifest) ManifestReplica.snapshot(spark, rows.toDS(), dir)
      else Replicate.snapshot(spark, rows.toDS(), dir)

    def read(dir: String): Dataset[PersonRow] =
      if (manifest) ManifestReplica.readReplica(spark, dir)
      else Replicate.readReplica(spark, dir)

    def awaitCompactions(): Unit =
      if (manifest) ManifestReplica.awaitCompactions()
      else Replicate.awaitCompactions()

    def compact(dir: String): Unit =
      if (manifest) ManifestReplica.compact(spark, dir)
      else Replicate.compactNow(spark, dir)

    /** Start the pipeline. Untraced: the engine's own entry point.
      * Traced: the same sink body that entry point builds — the same
      * query name, checkpoint, trigger and `applyBatch` arguments —
      * wrapped in an apply span, with no extra Spark action. */
    def start(logDir: String, dir: String, ckpt: String, trigger: Trigger,
        maxFiles: Option[Int], compactEvery: Int, trace: Trace,
        filesWritten: java.util.Map[Long, Int]): StreamingQuery =
      if (!trace.on) {
        if (manifest)
          ManifestReplica.startFrom(spark,
            ChangeSource.readStream(spark, logDir, maxFiles), dir, ckpt,
            trigger = trigger, compactEvery = compactEvery, compactAsync = true)
        else
          Replicate.start(spark, logDir, dir, ckpt, trigger = trigger,
            maxFilesPerTrigger = maxFiles, compactEvery = compactEvery)
      } else {
        ChangeSource.readStream(spark, logDir, maxFiles).writeStream
          .queryName(if (manifest) "graft-replicate-manifest" else "graft-replicate")
          .option("checkpointLocation", ckpt)
          .trigger(trigger)
          .foreachBatch { (batch: Dataset[PersonChange], epochId: Long) =>
            trace.span("apply", s"trigger-$epochId") { id =>
              spark.sparkContext.setLocalProperty(SpanProp, id)
              try {
                if (manifest)
                  ManifestReplica.applyBatch(spark, batch, dir,
                    batchId = epochId, compactEvery = compactEvery,
                    compactAsync = true)
                else
                  Replicate.applyBatch(spark, batch, dir,
                    batchId = epochId, compactEvery = compactEvery,
                    compactAsync = true)
              } finally spark.sparkContext.setLocalProperty(SpanProp, null)
            }
            filesWritten.put(epochId, countParquet(Paths.get(dir + deltaMarker + epochId)))
            ()
          }
          .start()
      }
  }

  def countParquet(p: Path): Int =
    if (!Files.isDirectory(p)) 0
    else {
      val st = Files.list(p)
      try st.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally st.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.deleteIfExists(_))
    finally st.close()
  }

  def render(ops: Seq[ChangeGen.Op], i: Int): Array[Byte] =
    // the same per-file noise ChangeGen.writeBatches interleaves: one
    // other-table line and one malformed line
    ((ops.map(ChangeGen.toJsonLine) :+ ChangeGen.auditLine(900000L + i) :+
      ChangeGen.malformedLine).mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8)

  /** Write outside the watched dir, give it a strictly increasing mtime
    * (the file source orders by mtime), then rename it in atomically.
    * Returns the arrival stamp, taken at the rename. */
  final class Writer(stage: Path, logDir: Path) {
    Files.createDirectories(stage); Files.createDirectories(logDir)
    private var lastMtime = 0L
    def put(name: String, bytes: Array[Byte]): Double = {
      val tmp = stage.resolve(name)
      Files.write(tmp, bytes)
      lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
      Files.setLastModifiedTime(tmp, FileTime.fromMillis(lastMtime))
      Files.move(tmp, logDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      nowMs
    }
  }

  /** Seeded Poisson arrivals conditioned on their count: `n` sorted
    * uniform offsets in [0, spanMs). Each arrival's phase against the
    * trigger clock is sampled, and every run writes the same volume. */
  def arrivals(r: Random, n: Int, spanMs: Double): Seq[Double] =
    Seq.fill(n)(r.nextDouble() * spanMs).sorted

  def loadAvg1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def gcTotals(): (Long, Long) = {
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime.max(0L)).sum, gcs.map(_.getCollectionCount.max(0L)).sum)
  }

  def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, cpusS, tmpS, outS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traceOn = traceS == "1"
    val cpus = cpusS.toInt
    val tmp = Paths.get(tmpS)
    val sh = shape(workload, seconds)
    val load1Start = loadAvg1()
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traceOn, "cpus" -> cpus, "nproc" -> Runtime.getRuntime.availableProcessors,
      "load1_start" -> load1Start)

    // ---- session: graft.Bench's settings, sized to this host ----
    val t0 = nowMs
    val fairXml = tmp.resolve("fair.xml")
    Files.writeString(fairXml,
      s"""<?xml version="1.0"?>
         |<allocations>
         |  <pool name="default"><schedulingMode>FIFO</schedulingMode><weight>8</weight><minShare>${math.max(1, 24 * cpus / 32)}</minShare></pool>
         |  <pool name="graft-compact"><schedulingMode>FIFO</schedulingMode><weight>1</weight><minShare>0</minShare></pool>
         |</allocations>""".stripMargin)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", fairXml.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (nowMs - t0) / 1000
    val replica = new Replica(spark, sh.protocol)

    // ---- inputs, from the seed alone (excluded from set-up) ----
    val g0 = nowMs
    val r = new Random(seed)
    val allOps = ChangeGen.ops(seed, sh.snapshotOps + sh.files * sh.opsPerFile)
    val (snapOps, streamOps) = allOps.splitAt(sh.snapshotOps)
    val snapRows = ChangeGen.replay(snapOps).values.toSeq.sortBy(_.id)
    val fileOps = streamOps.grouped(sh.opsPerFile).toIndexedSeq
    val fileBytes = fileOps.zipWithIndex.map { case (ops, i) => render(ops, i) }
    val fileLines = fileOps.map(_.size + 2)
    val maxId = snapRows.last.id
    val backlog = tmp.resolve("backlog")
    if (!sh.live) {
      val w = new Writer(tmp.resolve("stage"), backlog)
      fileBytes.zipWithIndex.foreach { case (b, i) => w.put(f"c_$i%05d.json", b) }
    }
    val warmLog = tmp.resolve("warm-log")
    val ww = new Writer(tmp.resolve("stage"), warmLog)
    (0 until sh.warmFiles).foreach(i => ww.put(f"c_$i%05d.json", fileBytes(i)))
    val arrivalSeed = r.nextLong()
    val readSeed = r.nextLong()
    val genS = (nowMs - g0) / 1000

    // ---- set-up: a warm-up on a throwaway replica (snapshot, the warm
    // files in triggers shaped like the timed ones with a fold every
    // second trigger, one read of each kind), then the snapshot the
    // timed phase starts from, loaded several times into fresh dirs ----
    val w0 = nowMs
    val warmDir = tmp.resolve("warm-replica").toString
    replica.snapshot(snapRows, warmDir)
    val wq = replica.start(warmLog.toString, warmDir, tmp.resolve("warm-ckpt").toString,
      Trigger.AvailableNow(), Some(sh.warmFilesPerTrigger), compactEvery = 2,
      new Trace(false, ""), null)
    try wq.awaitTermination() finally wq.stop()
    replica.awaitCompactions()
    ReadKinds.foreach(kind => runRead(replica.read(warmDir), kind, maxId / 2))
    val warmS = (nowMs - w0) / 1000
    deleteTree(Paths.get(warmDir)); deleteTree(tmp.resolve("warm-ckpt"))
    val dir0 = tmp.resolve("replica").toString
    val snapshotReps = (1 to SnapshotReps).map { k =>
      val s0 = nowMs
      val d = if (k == SnapshotReps) dir0 else s"$dir0-$k"
      replica.snapshot(snapRows, d)
      val s = (nowMs - s0) / 1000
      if (k < SnapshotReps) deleteTree(Paths.get(d))
      s
    }
    out ++= Seq("session_s" -> sessionS, "warmup_s" -> warmS,
      "snapshot_reps_s" -> snapshotReps, "gen_input_s" -> genS,
      "ops_per_file" -> sh.opsPerFile)

    // ---- timed passes: with tracing on, a traced pass first (in the
    // position the untraced runs measure), then an untraced one to
    // compare it with; otherwise the untraced pass alone ----
    val passes = if (traceOn) Seq(true, false) else Seq(false)
    val passOut = passes.zipWithIndex.map { case (traced, pi) =>
      val dir = dir0 + (if (pi == 0) "" else s"-$pi")
      if (pi > 0) replica.snapshot(snapRows, dir)
      val res = timedPass(spark, replica, sh, seconds, traced, dir,
        tmp.resolve(s"pass-$pi"), backlog, fileBytes, fileLines,
        new Random(arrivalSeed), new Random(readSeed), maxId)
      // correctness: the replica equals the naive replay of the snapshot
      // plus every delivered op, key by key
      val delivered = res("delivered_files").asInstanceOf[Int]
      val expected = ChangeGen.replay(snapOps ++ fileOps.take(delivered).flatten)
      val problems = scala.collection.mutable.ArrayBuffer(res("problems").asInstanceOf[Seq[String]]: _*)
      try {
        val got = replica.read(dir).collect()
        val gotMap = got.map(p => p.id -> p).toMap
        if (gotMap.size != got.length) problems += s"duplicate keys in replica: ${got.length - gotMap.size}"
        val missing = expected.keySet -- gotMap.keySet
        val extra = gotMap.keySet -- expected.keySet
        val differ = expected.count { case (k, v) => gotMap.get(k).exists(_ != v) }
        if (missing.nonEmpty || extra.nonEmpty || differ > 0)
          problems += s"replica != replay: missing=${missing.size} extra=${extra.size} differ=$differ"
        // reads on the quiesced replica: their answers are checkable too
        res("read_answers").asInstanceOf[Seq[(String, Int, Long)]].foreach { case (kind, key, v) =>
          val want =
            if (kind == "point") (if (expected.contains(key)) 1L else 0L)
            else expected.values.count(_.score % 2 == 0).toLong
          if (v != want) problems += s"$kind read answered $v, replay says $want"
        }
      } catch { case e: Throwable => problems += s"check failed: $e" }
      // the traced wrapper must add no Spark action: rows in == lines written
      val linesWritten = fileLines.take(delivered).sum.toLong
      val rowsIn = res("rows_in").asInstanceOf[Long]
      if (rowsIn != linesWritten) problems += s"input rows $rowsIn != lines written $linesWritten"
      deleteTree(Paths.get(dir)); deleteTree(tmp.resolve(s"pass-$pi"))
      (res - "read_answers") + ("problems" -> problems.toSeq)
    }
    out += "passes" -> passOut
    out += "load1_end" -> loadAvg1()
    spark.stop()
    Files.writeString(Paths.get(outS), Json(out.toMap))
  }

  /** Run one read through the replica's public read path; returns its
    * answer (rows matched, or rows scanned for the full scan). */
  def runRead(ds: Dataset[PersonRow], kind: String, key: Int): Long =
    kind match {
      case "point" => ds.filter(col("id") === key).collect().length.toLong
      case "count" => ds.filter(col("score") % 2 === 0).count()
      case _ =>
        ds.write.format("noop").mode("overwrite").save()
        -1L
    }

  def timedPass(spark: SparkSession, replica: Replica, sh: Shape, seconds: Int,
      traced: Boolean, dir: String, root: Path, backlog: Path,
      fileBytes: IndexedSeq[Array[Byte]], fileLines: IndexedSeq[Int],
      arrivalR: Random, readR: Random, maxId: Int): Map[String, Any] = {
    val trace = new Trace(traced, if (traced) "traced" else "untraced")
    val obs = new Observer(spark, traced)
    val problems = new ConcurrentLinkedQueue[String]()
    val reads = new ConcurrentLinkedQueue[Map[String, Any]]()
    val readAnswers = new ConcurrentLinkedQueue[(String, Int, Long)]()
    val filesWritten = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    val logDir = if (sh.live) root.resolve("log") else backlog
    Files.createDirectories(logDir)

    // the reads: a seeded rotation of the three kinds, keys drawn from the
    // snapshot's id range, one after another (closed loop) once the stream
    // has stopped, its folds have drained and the replica is fully folded.
    // Left as the stream ends, a replica holds 0..compactEvery-1 pending
    // deltas depending on the run's trigger count, and read cost follows.
    val rot = readR.nextInt(ReadKinds.size)
    val readPlan = (0 until Reads).map(i =>
      (ReadKinds((rot + i) % ReadKinds.size), readR.nextInt(maxId) + 1))
    def read(kind: String, key: Int): Unit =
      trace.span("read", "reads") { id =>
        if (traced) spark.sparkContext.setLocalProperty(SpanProp, id)
        val start = nowMs
        var ds: Dataset[PersonRow] = null
        val answer =
          try { ds = replica.read(dir); Some(runRead(ds, kind, key)) }
          catch { case e: Throwable => problems.add(s"$kind read failed: $e"); None }
        val end = nowMs
        spark.sparkContext.setLocalProperty(SpanProp, null)
        if (kind != "scan") answer.foreach(a => readAnswers.add((kind, key, a)))
        // read amplification, from the files the read's plan named
        val files = if (!traced || ds == null) Seq.empty[String]
          else try ds.inputFiles.toSeq catch { case _: Throwable => Seq.empty }
        val deltas = files.flatMap { f =>
          val at = f.indexOf(replica.deltaMarker)
          if (at < 0) None
          else Some(f.substring(at + replica.deltaMarker.length).takeWhile(_ != '/'))
        }
        val bytes = files.map { f =>
          try Files.size(Paths.get(new java.net.URI(f))) catch { case _: Throwable => 0L }
        }
        reads.add(Map("kind" -> kind, "start_ms" -> start, "end_ms" -> end,
          "ok" -> answer.isDefined, "span" -> id, "files" -> files.size,
          "deltas" -> deltas.distinct.size, "bytes" -> bytes.sum))
      }

    val (gcMs0, gcN0) = gcTotals()
    heapPools.foreach(_.resetPeakUsage())
    obs.attach()
    val files = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var delivered = 0
    var streamStart = 0.0
    var drainMs = 0.0
    try {
      val trigger = if (sh.live) Trigger.ProcessingTime(0L) else Trigger.AvailableNow()
      streamStart = nowMs
      val q = replica.start(logDir.toString, dir, root.resolve("ckpt").toString, trigger,
        sh.maxFilesPerTrigger, Replicate.DefaultCompactEvery, trace, filesWritten)
      try {
        if (sh.live) {
          val w = new Writer(root.resolve("stage"), logDir)
          val due = arrivals(arrivalR, sh.files, seconds * 1000.0)
          val t0 = nowMs + 250
          due.zipWithIndex.foreach { case (off, i) =>
            val d = t0 + off
            parkUntil(d)
            val renameStart = nowMs
            val at = w.put(f"c_$i%05d.json", fileBytes(i))
            files += Map("lines" -> fileLines(i), "due_ms" -> d, "late_ms" -> (renameStart - d),
              "arrive_ms" -> at)
            delivered += 1
          }
          val want = fileLines.take(delivered).sum.toLong
          val deadline = nowMs + 60000
          while (obs.rowsSeen.get < want && nowMs < deadline && q.exception.isEmpty)
            Thread.sleep(5)
          if (obs.rowsSeen.get < want) problems.add(s"stream saw ${obs.rowsSeen.get} of $want lines")
        } else {
          q.awaitTermination()
          delivered = fileBytes.size
          fileLines.indices.foreach(i => files += Map("lines" -> fileLines(i),
            "due_ms" -> streamStart, "late_ms" -> 0.0, "arrive_ms" -> streamStart))
        }
        q.exception.foreach(e => problems.add(s"stream failed: $e"))
      } finally q.stop()
      val d0 = nowMs
      trace.span("drain", "run")(_ => replica.awaitCompactions())
      drainMs = nowMs - d0
      replica.compact(dir)
      readPlan.foreach { case (kind, key) => read(kind, key) }
    } catch { case e: Throwable => problems.add(s"pass failed: $e") }
    finally obs.detach()
    val (gcMs1, gcN1) = gcTotals()
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    Map(
      "traced" -> traced,
      "files" -> files.toSeq,
      "delivered_files" -> delivered,
      "rows_in" -> obs.progress.asScala.map(_("rows").asInstanceOf[Long]).sum,
      "drain_ms" -> drainMs,
      "progress" -> obs.progress.asScala.toSeq,
      "reads" -> reads.asScala.toSeq,
      "read_answers" -> readAnswers.asScala.toSeq,
      "gc_s" -> (gcMs1 - gcMs0) / 1000.0,
      "gc_count" -> (gcN1 - gcN0),
      "heap_peak_mb" -> heapPeakMb,
      "spans" -> trace.spans.asScala.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "run" -> s.run)),
      "jobs" -> obs.jobsJson,
      "stages" -> obs.stages.asScala.toSeq,
      "tasks" -> obs.tasks.asScala.toSeq,
      "apply_files" -> filesWritten.asScala.map { case (k, v) => k.toString -> v }.toMap,
      "problems" -> problems.asScala.toSeq)
  }
}

/** Minimal JSON rendering for the raw observation file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
