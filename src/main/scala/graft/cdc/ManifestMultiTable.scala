package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Multi-table replication under the OBJECT-STORE commit protocol —
  * [[MultiTable]]'s fan-out running on [[ManifestReplica]]'s manifest
  * core instead of directory renames.
  *
  * Each declared table is its own manifest root at `<root>/<table>/` —
  * per-table commit streams, per-table time travel and gc, no
  * cross-table coupling in the commit path (exactly how a table format
  * deploys: one log per table). Every storage operation is
  * [[ManifestReplica]]'s own per-table core — the trigger body
  * ([[ManifestReplica.applyDelta]]), fold ([[ManifestReplica.compactWith]]),
  * read ([[ManifestReplica.foldAt]]), snapshot, vacuum and change feed —
  * called with [[SummaryFormat.Generic]]; only parsing, the presence
  * check and the typed projection ([[MultiTable]]'s) live outside it, so
  * every crash-window and concurrency argument in the ManifestReplica
  * header holds per table. */
object ManifestMultiTable {
  import MultiTable.{projectTyped, sliceOf, tableDir}
  private val Generic = SummaryFormat.Generic

  /** Bulk-load one table's initial state — a full-replace manifest
    * commit ([[ManifestReplica.snapshotWith]]). */
  def snapshot(spark: SparkSession, rows: DataFrame, root: String,
      spec: TableSpec,
      numBuckets: Int = MultiTable.DefaultNumBuckets): Unit =
    ManifestReplica.snapshotWith(spark, Generic, tableDir(root, spec),
      numBuckets, MultiTable.rowsAsMtSummaries(rows, spec))

  /** Apply one micro-batch of PARSED generic changes to every declared
    * table's manifest replica: [[ManifestReplica.applyDelta]] per present
    * table, with the synchronous fold; replayed epochs are no-ops
    * exactly as in [[ManifestReplica.applyBatch]]. Tables absent from
    * the batch are skipped entirely (see [[MultiTable.presentTables]]) —
    * critically here, because an empty per-trigger commit would burn a
    * manifest version and trim an idle table's retained
    * time-travel/changes window down to the last ~4 triggers of
    * wall-clock regardless of traffic (r6 review). */
  def applyBatch(spark: SparkSession, parsed: DataFrame, root: String,
      specs: Seq[TableSpec], batchId: Long,
      numBuckets: Int = MultiTable.DefaultNumBuckets,
      compactEvery: Int = Replicate.DefaultCompactEvery): Unit = {
    parsed.persist()
    try {
      val present = MultiTable.presentTables(parsed)
      specs.filter(sp => present.contains(sp.table)).foreach { spec =>
        ManifestReplica.applyDelta(spark, Generic, sliceOf(parsed, spec),
          tableDir(root, spec), numBuckets, batchId, compactEvery,
          compactAsync = false)
      }
    } finally parsed.unpersist()
  }

  /** Incremental fold of one table's pending deltas into new
    * generations of only the buckets they touch. */
  def compact(spark: SparkSession, dir: String,
      numBuckets: Int = MultiTable.DefaultNumBuckets): Unit =
    ManifestReplica.compactWith(spark, Generic, dir, numBuckets)

  /** Merge-on-read typed view of one table through its newest
    * manifest. */
  def readTable(spark: SparkSession, root: String, spec: TableSpec)
      : DataFrame = {
    val dir = tableDir(root, spec)
    val (fs, rootP) = Replicate.fsOf(spark, dir)
    val (_, m) = ManifestReplica.readManifest(fs, rootP)
    projectTyped(ManifestReplica.foldAt(spark, Generic, dir, m), spec)
  }

  /** Time travel for one table — [[ManifestReplica.readReplicaAt]]'s
    * contract (per-table manifest roots make retention per-table by
    * construction: a hot table's commits never trim an idle table's
    * window). */
  def readTableAt(spark: SparkSession, root: String, spec: TableSpec,
      version: Long): DataFrame = {
    val dir = tableDir(root, spec)
    projectTyped(ManifestReplica.foldAt(spark, Generic, dir,
      ManifestReplica.manifestAt(spark, dir, version)), spec)
  }

  /** Per-table change feed — [[ManifestReplica.changesSince]]'s
    * contract (gap-checked delta range as generic summary rows, one
    * row per key per batch). */
  def changesSince(spark: SparkSession, root: String, spec: TableSpec,
      sinceVersion: Long): DataFrame =
    ManifestReplica.changesSinceWith(spark, Generic, tableDir(root, spec),
      sinceVersion)

  /** Committed manifest versions of one table (time-travel targets). */
  def versions(spark: SparkSession, root: String, spec: TableSpec)
      : Seq[Long] =
    ManifestReplica.versions(spark, tableDir(root, spec))

  /** Retention-aware reclamation across every declared table — each
    * table's root gets [[ManifestReplica.gc]]'s exact sweep (keep
    * everything any retained version names), independently. */
  def gc(spark: SparkSession, root: String, specs: Seq[TableSpec],
      graceMs: Long = 0L): Unit =
    specs.foreach(sp => ManifestReplica.gc(spark, tableDir(root, sp),
      graceMs))

  /** Drop one table's replica entirely (S9) — the schema-independent
    * [[ManifestReplica.truncate]] on its root. */
  def truncate(spark: SparkSession, root: String, spec: TableSpec): Unit =
    ManifestReplica.truncate(spark, tableDir(root, spec))

  /** Physically remove one table's tombstones —
    * [[ManifestReplica.vacuumWith]] (the privacy-delete / reclamation
    * pass; same precondition: the source can no longer deliver lsns
    * below the tombstones' delete lsns). Like the single-table vacuum
    * this deliberately collapses the table's time-travel window before
    * sweeping (it exists to remove bytes). */
  def vacuum(spark: SparkSession, root: String, spec: TableSpec,
      numBuckets: Int = MultiTable.DefaultNumBuckets): Unit =
    ManifestReplica.vacuumWith(spark, Generic, tableDir(root, spec),
      numBuckets)

  /** The continuous multi-table pipeline on the manifest protocol:
    * one change-log stream → `parser` once per trigger (wal2json
    * [[MultiTable.parseAll]] by default; [[MultiTable.parseAllDebezium]]
    * for a Debezium topic set) → per-table manifest-committed apply. */
  def start(spark: SparkSession, changeDir: String, root: String,
      checkpointDir: String, specs: Seq[TableSpec],
      numBuckets: Int = MultiTable.DefaultNumBuckets,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      maxFilesPerTrigger: Option[Int] = None,
      compactEvery: Int = Replicate.DefaultCompactEvery,
      parser: (DataFrame, Seq[TableSpec]) => DataFrame =
        MultiTable.parseAll): StreamingQuery = {
    ChangeSource.rawLines(spark, changeDir, maxFilesPerTrigger).writeStream
      .queryName("graft-replicate-multitable-manifest")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        applyBatch(spark, parser(batch, specs), root, specs,
          batchId = epochId, numBuckets = numBuckets,
          compactEvery = compactEvery)
      }
      .start()
  }
}
