package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The per-key summary row every file replica stores, in its deltas and
  * in its base alike, and the one last-writer-wins fold that produces
  * it from a change batch (the reference applies each change by key,
  * last writer wins — replicator/main.go:195-269):
  * {{{
  *   [id_bucket,] <key>, last_img: struct<lsn, <image>...>,
  *   first_ins: struct<lsn, created_at>, last_d_lsn
  * }}}
  * A format names the key column, the image fields carried in
  * `last_img` and the key → bucket expression for a given bucket count
  * (the mapping on disk); nothing else differs between replicas.
  * [[Replicate]] and [[ManifestReplica]] each run
  * ONE per-table core (trigger body, fold, read, snapshot, vacuum)
  * over a format: the typed single-table replicas use [[Person]], the
  * declared-schema multi-table replicas use [[Generic]] once per table.
  * Folding summaries with each other is [[Replicate.combineSummaries]],
  * which is already format-independent. */
final case class SummaryFormat(key: String, keyType: DataType,
    image: Seq[StructField], bucket: Int => Column) {
  import Replicate.BucketCol

  /** Delta file schema, passed explicitly to reads to skip footer
    * inference. */
  val deltaSchema: StructType = StructType(Seq(
    StructField(BucketCol, IntegerType),
    StructField(key, keyType),
    StructField("last_img", StructType(StructField("lsn", LongType) +: image)),
    StructField("first_ins", StructType(Seq(
      StructField("lsn", LongType),
      StructField("created_at", TimestampType)))),
    StructField("last_d_lsn", LongType)))

  /** Base file schema: the deltas minus the bucket column (that is the
    * partition dir). One row per key that ever existed — live keys and
    * tombstones alike. */
  val baseSchema: StructType =
    StructType(deltaSchema.fields.filterNot(_.name == BucketCol))

  /** Grouping columns of a fold: the key, led by the bucket when the
    * rows are bucket-partitioned. */
  def keys(bucketed: Boolean): Seq[String] =
    if (bucketed) Seq(BucketCol, key) else Seq(key)

  /** Reduce a change batch (`lsn, action, <key>, <image>..., created_at`)
    * to ONE summary row per key. The caller partitions the batch by the
    * key or by a function of it; window and aggregate then reuse that
    * partitioning, so the fold is one batch-sized shuffle.
    *
    *  - `last_d_lsn`: lsn of the key's last delete in the batch (null if
    *    none). Every event before it is irrelevant (state is absent right
    *    after it); every later event is I or U.
    *  - `first_ins`: the first INSERT after the last delete. If present
    *    the key ends the batch alive regardless of prior state; its
    *    created_at is used when the row wasn't already alive.
    *  - `last_img`: image of the last non-delete event after the last
    *    delete — the final image if the key ends alive. With no delete in
    *    the batch this is just the last I/U image, which also covers the
    *    all-UPDATE case.
    *
    * Struct max/min order by `lsn` first, so they are argmax/argmin by
    * lsn (lsn is unique per change). Everything is codegen'd. */
  def summarize(batch: DataFrame, bucketed: Boolean = false): DataFrame = {
    val ks = keys(bucketed).map(col)
    val byKey = Window.partitionBy(ks: _*)
    val afterD = col("lsn") > coalesce(col("last_d_lsn"), lit(Long.MinValue))
    batch
      .withColumn("last_d_lsn",
        max(when(col("action") === "D", col("lsn"))).over(byKey))
      .groupBy(ks: _*)
      .agg(
        max(when(col("action") =!= "D" && afterD,
          struct((col("lsn") +: image.map(f => col(f.name))): _*)))
          .as("last_img"),
        min(when(col("action") === "I" && afterD,
          struct(col("lsn"), col("created_at")))).as("first_ins"),
        max(col("last_d_lsn")).as("last_d_lsn"))
  }

  /** [[summarize]] with the shuffle keyed on the bucket: bucket is a
    * function of the key, so per-key grouping is preserved, and the
    * window, the aggregate and the bucket-partitioned delta write all
    * run off this single shuffle. The repartition has NO explicit
    * count: AQE sizes the exchange to the batch (a trigger-sized batch
    * folds to one partition → one delta file; a bulk load fans out) —
    * the fixed-width variant either serialized bulk loads or sprayed
    * one tiny file per bucket per trigger, tripling compaction's scan
    * cost. */
  def summarizeBucketed(batch: DataFrame, numBuckets: Int): DataFrame =
    summarize(batch.withColumn(BucketCol, bucket(numBuckets))
      .repartition(col(BucketCol)), bucketed = true)
}

object SummaryFormat {
  /** The typed `person` replica: integer `id`, image (name, uid, score),
    * bucket `pmod(id, n)`. */
  val Person = SummaryFormat("id", IntegerType,
    Seq(StructField("name", StringType), StructField("uid", StringType),
      StructField("score", IntegerType)),
    n => pmod(col("id"), lit(n)).cast("int"))

  /** A declared-schema table ([[TableSpec]]): string `key`, the change's
    * column map as ONE JSON string `img` (maps aren't orderable in
    * Spark, strings are — and struct comparison orders by the unique
    * `lsn` first, so the text is never semantically compared), bucket
    * `pmod(hash(key), n)`. */
  val Generic = SummaryFormat("key", StringType,
    Seq(StructField("img", StringType)),
    n => pmod(hash(col("key")), lit(n)))
}
