package graft.cdc

import java.sql.Connection

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Multi-table CDC replication into SQL targets — [[MultiTable]]'s
  * fan-out with [[JdbcReplica]]'s transactional sink, completing the
  * replication matrix: {single, multi} × {rename, manifest,
  * state-store, JDBC} all share one summary algebra.
  *
  * Per declared [[TableSpec]], the target table's DDL is derived from
  * `rowSchema` (ANSI types, key column PRIMARY KEY), and each
  * micro-batch slice reduces to per-key summaries whose winning image
  * is projected to TYPED columns in Spark (one executor-side
  * `from_json` + cast per surviving key — [[MultiTable.typedColumns]],
  * the read-edge projection of [[MultiTable.readTable]]) before the
  * per-partition transaction binds them. The summaries are
  * [[SummaryFormat.Generic]]'s fold, the one every replica runs. The
  * three-phase `executeBatch` engine ([[JdbcReplica.applyOps]]) and the
  * (target, epoch, partition) exactly-once markers are [[JdbcReplica]]'s;
  * created_at preservation holds because the UPDATE never touches the
  * column — every ordering and idempotency argument there carries over
  * per table.
  *
  * Like the single-table JDBC sink (and unlike the summary-fold
  * replicas), this applies destructively and requires micro-batches in
  * lsn order — the replication-slot / single-topic-partition
  * guarantee. */
object JdbcMultiTable {
  import JdbcReplica.{RowOp, applyOps, connect, epochSeen, markEpoch,
    pruneEpochs}

  private def sqlType(f: StructField, isKey: Boolean): String =
    f.dataType match {
      case IntegerType => "INT"
      case LongType => "BIGINT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case TimestampType => "TIMESTAMP"
      case DateType => "DATE"
      case StringType =>
        // free-text columns get the widest portable VARCHAR (Derby's
        // max; a 500-char default silently failed streams the other
        // three matrix cells accept — r6 review). Keys stay modest so
        // they index everywhere; override either via "maxLength" in
        // the field's metadata.
        val len =
          if (f.metadata.contains("maxLength")) f.metadata.getLong("maxLength")
          else if (isKey) 500L else 32672L
        s"VARCHAR($len)"
      case other =>
        throw new IllegalArgumentException(s"no SQL mapping for $other")
    }

  private def jdbcType(dt: DataType): Int = dt match {
    case IntegerType => java.sql.Types.INTEGER
    case LongType => java.sql.Types.BIGINT
    case DoubleType => java.sql.Types.DOUBLE
    case FloatType => java.sql.Types.REAL
    case BooleanType => java.sql.Types.BOOLEAN
    case TimestampType => java.sql.Types.TIMESTAMP
    case DateType => java.sql.Types.DATE
    case _ => java.sql.Types.VARCHAR
  }

  /** Create one table's target (+ the shared epoch-marker table) if
    * absent, with DDL derived from the declared schema — or WIDEN an
    * existing one: declared columns missing from the live table are
    * added with `ALTER TABLE … ADD COLUMN` (nullable — pre-evolution
    * rows read SQL NULL, the same semantics as the parquet replicas'
    * read-side widening; r7 verdict #5). DDL-first like the reference:
    * the declared spec IS the contract, and only widening is handled —
    * a dropped or retyped column is rejected HERE, before any row is
    * written under the new spec (r10 verdict #5), never silently
    * mis-applied. */
  def ensureTable(url: String, spec: TableSpec): Unit = {
    JdbcReplica.ensureEpochTable(url)
    val c = connect(url)
    try {
      if (!JdbcReplica.tableExists(c, spec.table)) {
        val cols = spec.rowSchema.fields.map { f =>
          val isKey = f.name == spec.keyCol
          val constraint = if (isKey) " PRIMARY KEY" else ""
          s"${f.name} ${sqlType(f, isKey)}$constraint"
        }.mkString(", ")
        val st = c.createStatement()
        try st.executeUpdate(s"CREATE TABLE ${spec.table} ($cols)")
        finally st.close()
      } else {
        val existing = JdbcReplica.tableColumnTypes(c, spec.table)
        val declared = spec.rowSchema.fieldNames
          .map(_.toLowerCase).toSet
        // the schema-evolution contract against the PHYSICAL table
        // (r10 verdict #5, the JDBC half of
        // [[MultiTable.validateWidening]]): a live column the spec no
        // longer declares, or whose declared type maps to a different
        // SQL type, is rejected loudly — the sink would otherwise
        // leave dropped columns silently stale on every upsert, and a
        // retype would bind mismatched parameters at apply time.
        val dropped = existing.keySet -- declared
        require(dropped.isEmpty,
          s"schema evolution on '${spec.table}' drops live column(s) " +
            s"${dropped.toSeq.sorted.mkString(", ")} — only widening " +
            "is supported; dropping requires an explicit migration")
        val retyped = spec.rowSchema.fields.filter { f =>
          existing.get(f.name.toLowerCase)
            .exists(_ != jdbcType(f.dataType))
        }
        require(retyped.isEmpty,
          s"schema evolution on '${spec.table}' changes the SQL type " +
            s"of ${retyped.map(_.name).mkString(", ")} — type changes " +
            "are not supported; migrate via an explicit table rewrite")
        spec.rowSchema.fields
          .filterNot(f => existing.contains(f.name.toLowerCase))
          .foreach { f =>
            val st = c.createStatement()
            try st.executeUpdate(s"ALTER TABLE ${spec.table} " +
              s"ADD COLUMN ${f.name} ${sqlType(f, isKey = false)}")
            finally st.close()
          }
      }
    } finally c.close()
  }

  /** Per-key summaries of one table's batch slice, projected to typed
    * columns + action flags — the executor-side decode that keeps the
    * JDBC partition loop free of JSON work. The slice is shuffled on
    * `key` at a FIXED width before [[SummaryFormat.summarize]]: the
    * (epoch, partition) markers need stable partition ids across a
    * replay. */
  private[graft] def typedSummaries(slice: DataFrame, spec: TableSpec,
      parallelism: Int): DataFrame =
    SummaryFormat.Generic.summarize(slice.repartition(parallelism, col("key")))
      .select(col("key"), MultiTable.imageMap,
        col("first_ins.created_at").as("__cat"),
        col("last_img").isNotNull.as("has_img"),
        col("first_ins").isNotNull.as("has_ins"),
        col("last_d_lsn").isNotNull.as("has_del"))
      .select(MultiTable.typedColumns(spec) ++
        Seq(col("has_img"), col("has_ins"), col("has_del")): _*)

  /** Apply one micro-batch of PARSED generic changes to every declared
    * table's SQL target — per table, one summary job feeding
    * per-partition marker-guarded transactions; absent tables are
    * skipped ([[MultiTable.presentTables]]). */
  def applyBatch(spark: SparkSession, parsed: DataFrame, url: String,
      specs: Seq[TableSpec], batchId: Long, parallelism: Int = 4): Unit = {
    parsed.persist()
    try {
      val present = MultiTable.presentTables(parsed)
      specs.filter(sp => present.contains(sp.table)).foreach { spec =>
        val fields = spec.rowSchema.fields
        val keyIdx = fields.indexWhere(_.name == spec.keyCol)
        val nonKey = fields.zipWithIndex.filter(_._1.name != spec.keyCol)
        val updCols = nonKey.filterNot { case (f, _) =>
          spec.createdAtCol.contains(f.name) } // never touch created_at
        val delSql = s"DELETE FROM ${spec.table} WHERE ${spec.keyCol}=?"
        // a spec whose only columns are the key and created_at has
        // nothing to update — "SET key=key" keeps the statement valid
        // AND its update count still answers "did the key exist", which
        // the insert-on-miss decision needs (r6 review: an empty SET
        // list was a syntax error that killed the stream)
        val setList =
          if (updCols.isEmpty) s"${spec.keyCol}=${spec.keyCol}"
          else updCols.map(_._1.name + "=?").mkString(", ")
        val updSql =
          s"UPDATE ${spec.table} SET $setList WHERE ${spec.keyCol}=?"
        val insSql = s"INSERT INTO ${spec.table} (${
          fields.map(_.name).mkString(", ")}) VALUES (${
          fields.map(_ => "?").mkString(",")})"
        val table = spec.table
        def bind(ps: java.sql.PreparedStatement, at: Int, r: Row,
            idx: Int, dt: DataType): Unit =
          if (r.isNullAt(idx)) ps.setNull(at, jdbcType(dt))
          else ps.setObject(at, r.get(idx))
        typedSummaries(MultiTable.sliceOf(parsed, spec), spec, parallelism)
          .foreachPartition { (rows: Iterator[Row]) =>
            val buf = rows.toArray
            if (buf.nonEmpty) {
              val pid = org.apache.spark.TaskContext.getPartitionId()
              val c = connect(url)
              try {
                c.setAutoCommit(false)
                if (!epochSeen(c, table, batchId, pid)) {
                  val nFields = fields.length
                  applyOps(c, delSql, updSql, insSql,
                    buf.iterator.map { r =>
                      RowOp(
                        bindDel = del =>
                          bind(del, 1, r, keyIdx, fields(keyIdx).dataType),
                        bindUpd = upd => {
                          updCols.zipWithIndex.foreach {
                            case ((f, i), at) => bind(upd, at + 1, r, i,
                              f.dataType) }
                          bind(upd, updCols.length + 1, r, keyIdx,
                            fields(keyIdx).dataType)
                        },
                        bindIns = ins =>
                          fields.zipWithIndex.foreach { case (f, i) =>
                            bind(ins, i + 1, r, i, f.dataType) },
                        hasDel = r.getBoolean(nFields + 2),
                        hasIns = r.getBoolean(nFields + 1),
                        hasImg = r.getBoolean(nFields))
                    })
                  markEpoch(c, table, batchId, pid)
                  pruneEpochs(c, table, batchId)
                  c.commit()
                } else c.rollback()
              } catch { case e: Throwable => c.rollback(); throw e }
              finally c.close()
            }
          }
      }
    } finally parsed.unpersist()
  }

  /** The continuous multi-table pipeline into SQL targets: one
    * change-log stream → [[MultiTable.parseAll]] once per trigger →
    * per-table transactional JDBC apply. */
  def start(spark: SparkSession, changeDir: String, url: String,
      checkpointDir: String, specs: Seq[TableSpec],
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      maxFilesPerTrigger: Option[Int] = None,
      parallelism: Int = 4,
      parser: (DataFrame, Seq[TableSpec]) => DataFrame =
        MultiTable.parseAll): StreamingQuery = {
    specs.foreach(ensureTable(url, _))
    ChangeSource.rawLines(spark, changeDir, maxFilesPerTrigger).writeStream
      .queryName("graft-replicate-multitable-jdbc")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        applyBatch(spark, parser(batch, specs), url, specs,
          batchId = epochId, parallelism = parallelism)
      }
      .start()
  }
}
