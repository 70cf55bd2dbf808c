package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.input_file_name
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.Relational
import graft.ml.{MlQueries, Similarity}
import graft.core.Tables

/** Physical-plan shape assertions — the `.explain` audit as permanent
  * regression tests. Every 100 TB claim in the Scaladoc that has a plan
  * signature (broadcast joins, predicate pushdown, column pruning,
  * whole-stage codegen, no cartesian products) is asserted here, so a
  * refactor that silently de-optimizes a flagship plan fails the suite
  * instead of only showing up in the next bench round. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan
  private def planString(df: DataFrame): String =
    planOf(df).toString
  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("j_inner_broadcast: both dims broadcast, fact side never shuffles for the joins") {
    val s = planString(run("j_inner_broadcast"))
    assert(s.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!s.contains("SortMergeJoin"),
      "star-schema rollup must not sort-merge the fact side")
  }

  test("q1_agg_pricing: shipdate filter reaches the parquet scan, columns pruned") {
    val s = planString(run("q1_agg_pricing"))
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate predicate must push into the scan:\n${s.take(800)}")
    // projection needs 7 of lineitem's 16 columns; the scan must not
    // read the rest (l_comment is the big one)
    assert(!s.contains("l_comment"), "column pruning lost: l_comment read")
  }

  test("s1_scan_project_sort: scan reads only the projected columns") {
    val s = planString(run("s1_scan_project_sort"))
    val read = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("c_comment") && !read.contains("c_address"),
      s"projection must prune unused columns: $read")
  }

  test("j2_semi_exists: EXISTS plans as a semi join, not an aggregate+join") {
    val s = planString(run("j2_semi_exists"))
    assert(s.contains("LeftSemi"), "EXISTS must plan as left-semi")
  }

  test("hilbert: one codegen'd scan-side projection — no join, no pre-sort exchange") {
    val df = run("ml_hilbert")
    df.collect() // finalize AQE so the plan shows its codegen stages
    val s = planOf(df).toString.split("== Initial Plan ==").head
    assert(!s.contains("Join"), "the curve key is a per-row scalar")
    // "*(n) Project [... hilbert2(...)]" — the starred stage prefix is
    // the whole-stage-codegen marker in the plan's toString form
    assert(s.linesIterator.exists(l =>
      l.contains(") Project") && l.contains("*(") && l.contains("hilbert2")),
      s"the native kernel must project inside a codegen stage:\n$s")
    // exactly ONE shuffle: the presentation sort's range partitioning
    val exchanges = s.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1,
      s"key computation must not shuffle (found $exchanges exchanges)")
  }

  test("weighted sample: no document-scale single-partition window") {
    // the two-level prefix sum's only single-partition risk would be a
    // global window; every exchange must be hash/range-keyed, never a
    // SinglePartition gather of the document stream
    val s = planString(run("ml_weighted_sample"))
    assert(!s.contains("SinglePartition"),
      s"document stream must never gather to one partition:\n${s.take(600)}")
    assert(s.contains("Window"), "the prefix sum rides windows")
  }

  test("bin-pack plan: doc-scale window keys on blk; offsets broadcast; no global doc window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = run("ml_binpack")
    // every window over document-scale data keys on the bounded blk
    // (the block offsets prefix-sum is NOT a window — it rides a
    // posexplode over one collected ≤256-element list)
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "the within-block running sum rides a window")
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).distinct
      assert(keys.contains("blk"),
        s"window keyed $keys would gather the doc stream globally")
    }
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"), "offsets table must broadcast")
    assert(!s.contains("SortMergeJoin"),
      "doc stream must not sort-merge against the bounded offsets table")
  }

  test("media near-dup: band blocking is an equi join — no cartesian, no nested-loop") {
    val df = run("ml_media_neardup")
    df.collect() // finalize AQE
    val s = planOf(df).toString.split("== Initial Plan ==").head
    assert(!s.contains("CartesianProduct"),
      "banded candidates must never take the all-pairs path")
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "the band key is an EQUI key — a nested loop means it got lost")
  }

  test("cosine top-k: query block broadcast, corpus side never exchanges before scoring") {
    val plan = planString(
      Similarity.cosineTopKFast(Tables(spark, sf, "embeddings")))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "query block must broadcast against the corpus")
    // the only exchange allowed below the window is the broadcast; the
    // corpus scan must feed the join directly
    val beforeWindow = plan.split("Window").last
    assert(!beforeWindow.contains("Exchange hashpartitioning"),
      "corpus must not hash-exchange before scoring")
  }

  test("PQ ADC: queries broadcast, encoded corpus never exchanges before candidate ranking") {
    val dir = java.nio.file.Files.createTempDirectory("pq-plan").toString
    val plan = planString(
      Similarity.pqTopK(Tables(spark, sf, "embeddings"), s"$dir/cb.parquet"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "query block must broadcast against the encoded corpus")
    // encoding is scan-side (argmin over codebook literals): below the
    // deepest window the corpus feeds the broadcast join directly
    val beforeWindow = plan.split("Window").last
    assert(!beforeWindow.contains("Exchange hashpartitioning"),
      "corpus must not hash-exchange before ADC scoring")
  }

  test("ivfadc index: the probed read prunes to exactly the probed cells' files") {
    // the 100 TB ANN serving claim as a pinned plan (VERDICT r12 #2):
    // with the encoded corpus written partitionBy(cell) — one file per
    // cell — a search probing `nprobe` cells must READ nprobe files,
    // not scan-and-filter the whole index
    val dir = java.nio.file.Files.createTempDirectory("ivfadc-prune").toString
    val emb = Tables(spark, sf, "embeddings")
    Similarity.ivfAdcTopKIndexed(emb, s"$dir/cent", s"$dir/cb",
      s"$dir/idx").collect()
    val allCells = new java.io.File(s"$dir/idx").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    val probe = Seq(0, 1).take(Similarity.IvfAdcProbe)
    assert(allCells > probe.size, "fixture needs more cells than nprobe")
    val scan = Similarity.ivfAdcIndexScan(spark, s"$dir/idx", probe)
    // the IN list must plan as a PARTITION filter on the scan node...
    val s = planString(scan)
    val scanLine = s.linesIterator
      .find(l => l.contains("FileScan") && l.contains("idx"))
      .getOrElse(fail(s"no FileScan of the index in:\n$s"))
    assert(scanLine.contains("PartitionFilters") &&
      scanLine.replaceAll(".*PartitionFilters", "").contains("cell"),
      s"cell IN (...) must prune partitions, not filter rows: $scanLine")
    // ...and the files ACTUALLY read are exactly the probed cells'
    val filesRead = scan.select(input_file_name()).distinct().count()
    assert(filesRead === probe.size.toLong,
      s"pruned scan must read ${probe.size} of $allCells cell files, read $filesRead")
  }

  test("filtered index serve: partition pruning AND the pushed category filter coexist") {
    // VERDICT r13 next #7: the pre-filtered serving path must keep BOTH
    // scan optimizations at once — the probed-cell partition pruning
    // (files-read == probed cells) and the category predicate pushed
    // into the parquet scan (row-group skipping by column stats)
    val dir = java.nio.file.Files.createTempDirectory("ivfadc-filt").toString
    val emb = Tables(spark, sf, "embeddings")
    Similarity.ivfAdcEnsureIndex(emb, s"$dir/cent", s"$dir/cb", s"$dir/idx")
    val probe = Seq(0, 1)
    val scan = spark.read.parquet(s"$dir/idx")
      .filter(org.apache.spark.sql.functions.col("cell").isin(probe: _*) &&
        org.apache.spark.sql.functions.col("cat") === 0L)
      .select("vec_id", "codes", "cell")
    val s = planString(scan)
    val scanLine = s.linesIterator
      .find(l => l.contains("FileScan") && l.contains("idx"))
      .getOrElse(fail(s"no FileScan of the index in:\n$s"))
    assert(scanLine.contains("PartitionFilters") &&
      scanLine.replaceAll(".*PartitionFilters", "").contains("cell"),
      s"cell IN (...) must prune partitions: $scanLine")
    val pushed = scanLine.replaceAll(".*PushedFilters: \\[", "")
    assert(pushed.contains("EqualTo(cat,0)"),
      s"category test must push into the scan: $scanLine")
    val filesRead = scan.select(input_file_name()).distinct().count()
    assert(filesRead === probe.size.toLong,
      s"pruning must survive the pushed filter: read $filesRead files")
    // and the declared row's own plan carries both properties
    val rowPlan = planString(run("ml_ann_filtered_indexed"))
    assert(rowPlan.contains("PartitionFilters") &&
      rowPlan.contains("EqualTo(cat,0)"),
      "the declared row must keep pruning + pushdown")
  }

  test("no query plans a non-broadcast cartesian product") {
    // eager side-effecting builders (staged pipeline writes, CTAS DDL,
    // sketch + collect) run real jobs just to produce their final
    // DataFrame, and that returned frame is a plain read/local scan with
    // no join surface — skip them here; their internals have their own
    // specs
    val eager = Set("ml_dedup_pipeline", "sql_catalog_ctas",
      "agg_heavy_hitters")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("cdc_"))
      .filterNot(eager)
      .filter { n =>
        val s = planString(run(n))
        s.contains("CartesianProduct")
      }
    assert(offenders.isEmpty,
      s"cartesian products (non-broadcast cross joins) in: $offenders")
  }

  test("j_q4_priority: EXISTS is one left-semi, date window pushed to the orders scan") {
    val s = planString(run("j_q4_priority"))
    assert(s.contains("LeftSemi"), "EXISTS must plan as left-semi")
    assert(s.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      "quarter filter must reach the orders scan")
  }

  test("j_q10_returns: nation broadcasts, return-flag filter pushed to the lineitem scan") {
    val s = planString(run("j_q10_returns"))
    assert(s.contains("BroadcastHashJoin"), "nation must broadcast")
    assert(s.contains("EqualTo(l_returnflag,R)"),
      "R-flag filter must reach the lineitem scan")
  }

  test("funnel/cep chains: anchors broadcast — no sort-merge, no event self-join") {
    for (n <- Seq("j_funnel_vcp", "j_cep_chain4")) {
      val s = planString(run(n))
      assert(s.contains("BroadcastHashJoin"), s"$n anchors must broadcast")
      assert(!s.contains("SortMergeJoin"),
        s"$n must never sort-merge — anchors are |users|-bounded")
    }
  }

  test("funnel/cep anchors degrade to shuffled joins over the broadcast threshold") {
    // r8 verdict #3: the anchor hints are size-conditional — with
    // broadcasting disabled (the stand-in for a 10⁹-user anchor that
    // exceeds the threshold) the SAME builder must plan shuffled
    // equi-joins instead of forcing a broadcast OOM, and the results
    // must be identical to the broadcast-planned run
    val under = run("j_funnel_vcp").collect()
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thrKey)
    try {
      spark.conf.set(thrKey, "-1")
      val s = planString(run("j_funnel_vcp"))
      assert(!s.contains("BroadcastHashJoin"),
        "over the threshold no anchor may broadcast")
      assert(s.contains("SortMergeJoin"),
        "over the threshold anchors must shuffle (graceful degradation)")
      val over = run("j_funnel_vcp").collect()
      assert(over.toSeq === under.toSeq,
        "broadcast and shuffled plans must return identical funnels")
    } finally spark.conf.set(thrKey, saved)
  }

  test("q6_forecast: every range predicate reaches the parquet scan, no join") {
    val s = planString(run("q6_forecast"))
    assert(!s.contains("Join"), "Q6 is the no-join query")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(s.contains(s"IsNotNull($c)") || s.contains(s"($c"),
        s"$c predicate must push into the scan")
    val pushed = s.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"),
      s"all three ranges must be in PushedFilters: $pushed")
  }

  test("q19_disjunct: OR-of-conjunctions still plans a broadcast hash join") {
    // the equi-half (l_partkey = p_partkey) must be extracted as the
    // join key with the disjunction as a residual — a planner that
    // fails this falls back to a nested loop over the fact
    val s = planString(run("j_q19_disjunct"))
    assert(s.contains("BroadcastHashJoin"),
      "part must broadcast-hash-join on the equi-half")
    assert(!s.contains("BroadcastNestedLoopJoin") &&
      !s.contains("CartesianProduct"),
      "the disjunction must not degrade the join to a nested loop")
  }

  test("q7/q8: dims broadcast, exactly one fact-fact exchange pair on orderkey") {
    for (n <- Seq("j_q7_nations", "j_q8_share")) {
      val s = planString(run(n))
      assert(s.contains("BroadcastHashJoin"), s"$n dims must broadcast")
      val exchanges = s.linesIterator
        .count(_.trim.startsWith("+- Exchange hashpartitioning"))
      // lineitem⋈orders (+customer/supplier sides) shuffle; the point
      // is boundedness — no per-dim exchange explosion
      assert(exchanges <= 8, s"$n has $exchanges hash exchanges")
    }
  }

  test("q21_waiting: the per-order aggregate reuses the orderkey exchange") {
    // the EXISTS/NOT-EXISTS pair is rewritten as os ⋈ perOrder on the
    // SAME key os was aggregated by — Catalyst must not insert a fresh
    // exchange between the aggregate and the join (ReuseExchange /
    // partitioning-aware planning); a lost reuse doubles the lineitem
    // shuffle volume at 100 TB
    val s = planString(run("j_q21_waiting"))
    assert(!s.contains("CartesianProduct"))
    val exchanges = s.linesIterator
      .count(_.trim.contains("Exchange hashpartitioning"))
    assert(exchanges <= 6,
      s"per-order rewrite must bound exchanges, got $exchanges:\n${s.take(800)}")
  }

  test("dq suite: a single-scan aggregate — no join anywhere in the plan") {
    val s = planString(run("ml_dq_suite"))
    assert(!s.contains("Join"),
      "the constraint suite must stay one corpus scan + stack")
  }

  test("bigram LM: model tables broadcast, the corpus never sort-merges") {
    val s = planString(run("ml_lm_bigram"))
    assert(s.contains("BroadcastHashJoin"), "count model must broadcast")
    assert(!s.contains("SortMergeJoin"),
      "per-doc bigram table must not sort-merge against the model")
  }

  test("rank-filter top-k plans insert WindowGroupLimit before the sort") {
    // Spark 3.5+'s InferWindowGroupLimit turns Filter(rank/row_number
    // <= k over Window) into a per-group bounded limit that runs BOTH
    // map-side (before the exchange) and post-shuffle — at 100 TB each
    // task forwards at most k rows per group to the sort instead of its
    // whole partition. Our top-k and latest-per-key queries lean on
    // that; pin it so a query reshape (e.g. projecting the rank without
    // filtering it) doesn't silently fall back to sort-everything.
    // r5 VERDICT ask #8: the similarity top-k family joins the pin —
    // these are the queries where the PRE-exchange row count (corpus ×
    // queries scored pairs) actually dwarfs k·groups, so losing the
    // rewrite costs the most at scale.
    Seq("w_rank_topn", "a6_lww_window", "ml_cosine_topk",
      "ml_cosine_topk_fast", "ml_ann_ivf", "ml_ann_lsh").foreach { n =>
      val s = planString(run(n))
      assert(s.contains("WindowGroupLimit"),
        s"$n lost the group-limit rewrite:\n${s.take(600)}")
    }
  }

  test("flagship aggregates keep whole-stage codegen spans") {
    // AQE finalizes the physical plan only on execution; codegen'd
    // nodes then print with a "*(n)" stage prefix
    Seq("q1_agg_pricing", "a6_lww_maxby", "agg_salted_skew").foreach { n =>
      val qe = run(n).queryExecution
      // execute through THIS QueryExecution (a .write would plan a fresh
      // one and leave this AdaptiveSparkPlan unfinalized)
      qe.executedPlan.execute().foreach(_ => ())
      val s = qe.executedPlan.toString
      assert(s.contains("*("), s"$n lost whole-stage codegen:\n${s.take(600)}")
    }
  }

  test("pii scrub is a pure projection: no aggregate, no hash exchange") {
    // per-row regex projection + presentation sort — the ONLY exchange
    // allowed is the orderBy's range partitioning; a hash exchange or
    // aggregate would mean the scrub stopped being embarrassingly
    // parallel
    val s = planString(run("ml_pii_redact"))
    assert(!s.contains("Exchange hashpartitioning"),
      s"pii scrub grew a hash shuffle:\n${s.take(600)}")
    assert(!s.contains("HashAggregate"),
      s"pii scrub grew an aggregate:\n${s.take(600)}")
  }

  /** The compaction fold over bucketed deltas ∪ bucket-stamped base
    * summaries, executed; returns the final (adaptive) plan string. */
  private def foldPlan(deltas: org.apache.spark.sql.DataFrame,
      base: org.apache.spark.sql.DataFrame, key: String): String = {
    import org.apache.spark.sql.functions.col
    import graft.cdc.Replicate
    val cols = Seq(Replicate.BucketCol, key, "last_img", "first_ins",
      "last_d_lsn")
    val dir = java.nio.file.Files.createTempDirectory("plan-cdc").toString
    deltas.write.parquet(s"$dir/delta")
    val merged = Replicate.combineSummaries(
      base.select(cols.map(col): _*)
        .unionAll(spark.read.parquet(s"$dir/delta").select(cols.map(col): _*)),
      Seq(Replicate.BucketCol, key), width = Some(4))
    val qe = merged.queryExecution
    qe.executedPlan.execute().foreach(_ => ())
    qe.executedPlan.toString
  }

  /** No join, and exactly the one explicit bucket repartition: window,
    * aggregate, and the bucket-partitioned write all reuse it — a
    * second exchange would spray buckets across write tasks. */
  private def assertOneBucketExchange(s: String): Unit = {
    // AQE's string repeats the tree under "== Initial Plan ==" — count
    // only the final (executed) section
    val finalPlan = s.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Join"),
      s"compaction fold must not plan a join:\n$s")
    val exchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"unexpected extra exchange:\n$s")
  }

  test("CDC compaction fold: one bucket exchange, no join — union feeds window, agg, write") {
    import java.sql.Timestamp
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.cdc.{ChangeGen, MultiTable, PersonChange, PersonRow,
      Replicate, SummaryFormat}
    import spark.implicits._
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    // the typed person format
    val changes = (1 to 100).map(i => PersonChange(100L + i, "I", i,
      Some(s"n$i"), Some(s"u$i"), Some(i), Some(t0))).toDS()
    val rows = (1 to 50).map(i => PersonRow(i, s"n$i", s"u$i", i, t0)).toDS()
    assertOneBucketExchange(foldPlan(
      Replicate.summarizeBucketed(changes.toDF(), 4),
      Replicate.rowsAsSummaries(rows.toDF())
        .withColumn(Replicate.BucketCol, pmod(col("id"), lit(4)).cast("int")),
      "id"))
    // the generic format every multi-table replica stores: string key,
    // JSON image, hash bucket
    val parsed = MultiTable.parseAll(
      ChangeGen.ops(seed = 9L, n = 200).map(ChangeGen.toJsonLine).toDF("value"),
      MtTestSpecs.both)
    val generic = SummaryFormat.Generic
    assertOneBucketExchange(foldPlan(
      generic.summarizeBucketed(
        parsed.filter(col("tbl") === "person").drop("tbl"), 4),
      MultiTable.rowsAsMtSummaries(rows.toDF(), MtTestSpecs.person)
        .withColumn(Replicate.BucketCol, generic.bucket(4)),
      "key"))
  }

  test("SRP bucket signatures are computed shuffle-free") {
    val s = planString(Similarity.srpBuckets(Tables(spark, sf, "embeddings")))
    assert(!s.contains("Exchange"),
      s"SRP signature pass must be a pure projection:\n${s.take(600)}")
  }

  test("contamination: corpus grams hit the broadcast probe without an exchange") {
    val s = planString(run("ml_contamination"))
    assert(s.contains("BroadcastHashJoin"),
      "benchmark gram set must broadcast")
    // the corpus gram stream must feed the broadcast join directly: in
    // the plan text, the streamed (corpus) side sits between the join
    // node and the BroadcastExchange of the build side — no hash
    // exchange may appear there. (Exchanges after the join operate on
    // the tiny match set; the one inside the broadcast build dedups the
    // tiny bench set.)
    val corpusSide = s.substring(s.indexOf("BroadcastHashJoin"),
      s.indexOf("BroadcastExchange"))
    assert(!corpusSide.contains("Exchange"),
      s"corpus gram stream shuffles before the probe:\n$corpusSide")
  }

  test("salted aggregate is two phases over one fact scan") {
    val s = planString(run("agg_salted_skew"))
    // two hash-aggregate pairs (partial+final per phase); a plan that
    // collapsed the salt would show only one exchange
    val exchanges = s.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges >= 2, s"expected the two-phase shape, got $exchanges exchanges")
  }

  test("semantic dedup: the drop list broadcasts into a left-anti probe") {
    val s = planString(run("ml_semantic_dedup"))
    assert(s.contains("LeftAnti"), "survivor filter must be an anti join")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "the tiny drop list must broadcast — the corpus must not shuffle")
    assert(!s.contains("SortMergeJoin"),
      s"corpus side sort-merges for the anti join:\n${s.take(600)}")
  }

  test("mixture rebalance: the rate table broadcasts, the corpus never sort-merges") {
    val s = planString(run("ml_mixture_rebalance"))
    assert(s.contains("BroadcastHashJoin"), "rate table must broadcast")
    assert(!s.contains("SortMergeJoin"),
      s"corpus shuffles for the rate join:\n${s.take(600)}")
  }

  test("shard assignment: the only hash exchange is the shard key itself") {
    val s = planString(run("ml_shard_assign"))
    val hashEx = s.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1 && hashEx.head.contains("shard"),
      s"expected exactly the shard-key exchange (= the write partitioning):\n$hashEx")
  }

  test("seq pack: two-level prefix sum — no document-scale window keyed only by lang") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = run("ml_seq_pack")
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "seq pack must still be window-based")
    // the window that touches document-scale data must key on the
    // high-cardinality (lang, blk); a lang-only window is allowed ONLY
    // over the aggregated per-block offsets table (bounded rows)
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).distinct
      if (!keys.contains("blk"))
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"window keyed $keys runs over unaggregated document data — " +
            "the 5-value lang key is a straggler wall at 100 TB")
    }
    assert(windows.exists(w =>
      w.partitionSpec.flatMap(_.references.map(_.name)).toSet == Set("lang", "blk")),
      "within-block running sum must key on (lang, blk)")
    // offsets come back via broadcast — the doc stream must not
    // sort-merge against the tiny offsets table
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin"), "offsets table must broadcast")
    assert(!s.contains("SortMergeJoin"),
      s"doc stream sort-merges against the offsets table:\n${s.take(600)}")
  }

  test("quality gate is a pure projection: no hash exchange, no join") {
    val s = planString(run("ml_quality_gate"))
    assert(!s.contains("Join"), "gate must not join")
    assert(!s.contains("Exchange hashpartitioning"),
      s"gate must stay a per-row projection:\n${s.take(600)}")
  }

  test("quality classifier is one corpus scan: model baked, no exchange, no join") {
    // the weight vector is a literal array (bounded model state); a
    // join or hash exchange here would mean the model was planned as
    // data — the 100 TB cost model (exactly one scan) depends on this
    val s = planString(run("ml_quality_classifier"))
    assert(!s.contains("Join"), "classifier must not join")
    assert(!s.contains("Exchange hashpartitioning"),
      s"classifier must stay a per-row projection:\n${s.take(600)}")
  }

  test("lm surprisal: count model broadcasts, corpus text never hash-joins by shuffle") {
    // the unigram model (term counts) must reach the tf table as a
    // broadcast — a sort-merge join here shuffles the corpus gram
    // stream twice at 100 TB
    val s = planString(run("ml_lm_surprisal"))
    assert(s.contains("BroadcastHashJoin"), "count model must broadcast")
    assert(!s.contains("SortMergeJoin"),
      s"corpus-side sort-merge join is the scale killer:\n${s.take(800)}")
  }

  test("repetition stats are per-row: no gram shuffle, no join") {
    // round-5 shape: count/distinct/max-multiplicity come off each
    // row's sorted gram array — the only exchange left is the output
    // range sort, never a hash exchange of exploded grams
    val s = planString(run("ml_repetition"))
    assert(!s.contains("Join"), "repetition must not join")
    assert(!s.contains("Exchange hashpartitioning"),
      s"gram stats must stay inside the scan:\n${s.take(600)}")
  }

  test("char surprisal: no join, no model table — the doc is its own model") {
    // the per-char stream partial-aggregates scan-side; what shuffles
    // is (doc_id, char) counts, and there is no second table at all
    val s = planString(run("ml_char_surprisal"))
    assert(!s.contains("Join"), "char surprisal must not join")
    assert(s.contains("HashAggregate"),
      "char counts must partial-aggregate (map-side combine)")
  }

  test("quantile cut: threshold table broadcasts, corpus never sort-merges") {
    // pass 2 joins the |langs|-row threshold table back — broadcast
    // or bust; a sort-merge here shuffles the corpus for a 5-row dim
    val s = planString(run("ml_quality_quantile_cut"))
    assert(s.contains("BroadcastHashJoin"), "threshold table must broadcast")
    assert(!s.contains("SortMergeJoin"),
      s"corpus-side sort-merge is the scale killer:\n${s.take(800)}")
  }

  test("embed drift: one scan, no join, no window — 64 groups absorb the corpus") {
    // the moments partial-aggregate scan-side onto 64 (dim) groups;
    // there is no second table and no per-row window anywhere
    val s = planString(run("ml_embed_drift"))
    assert(!s.contains("Join"), "drift report must not join")
    assert(!s.contains("Window"), "drift report must not window")
    assert(s.contains("HashAggregate"),
      "moments must partial-aggregate (map-side combine)")
  }

  test("fertility: merge chain is scan-side literal — no join, lang groups absorb the corpus") {
    val s = planString(run("ml_bpe_fertility"))
    assert(!s.contains("Join"),
      "the trained merge chain is baked as literals — no model join")
    assert(s.contains("HashAggregate"),
      "per-lang totals must partial-aggregate")
  }

  test("calibration: fixed-width value bins — no window, no global sort before the agg") {
    // rank-decile binning would need a corpus-wide window; the
    // value-bin form is a projection + 10-group aggregate
    val s = planString(run("ml_clf_calibration"))
    assert(!s.contains("Window"),
      "calibration bins must come from values, not a rank window")
  }

  test("curriculum order: per-lang window only — no global single-partition window") {
    // the naive form is row_number() OVER (ORDER BY rank, lang): one
    // Window with an EMPTY partition spec = every row through one
    // task. The shipped plan derives the global position from the
    // per-language counts arithmetically; the only Window partitions
    // by lang.
    val s = planString(run("ml_curriculum_order"))
    val windows = "Window ".r.findAllIn(s).size
    assert(windows === 1, s"exactly the per-lang rank window, got $windows")
    assert(s.contains("partitionBy") || s.contains("PartitionBy") ||
      s.contains("windowspecdefinition(lang"),
      "the one window must partition by lang")
  }

  test("export manifest: one hash aggregate to |shards| rows — no window, no join") {
    val s = planString(run("ml_export_manifest"))
    assert(!s.contains("Join"), "manifest must not join")
    assert(!s.contains("Window"), "manifest must not window")
    assert(s.contains("HashAggregate"),
      "shard rollup must partial-aggregate (additive checksum)")
  }

  test("matryoshka: query block broadcasts, no cartesian product") {
    val s = planString(run("ml_matryoshka_recall"))
    assert(s.contains("BroadcastHashJoin"), "query block must broadcast")
    assert(!s.contains("CartesianProduct"),
      "the prefix eval joins on dims — never all-pairs")
  }

  test("doc pool: one hash exchange, no positional explode") {
    // the bounded-group fold keys once on doc_id and folds arrays with
    // zip_with — a Generate node would mean the 64× positional
    // explosion crept back (the `centroids` shape, wrong here)
    val df = Similarity.docPool(Tables(spark, sf, "embeddings"))
    val s = planString(df)
    assert(!s.contains("Generate"), "doc pool must not explode positions")
    val exchanges = s.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1,
      s"doc pool must shuffle once (got $exchanges):\n${s.take(800)}")
  }

  test("JDBC multi-table summaries: one exchange serves repartition, window, and aggregate") {
    // typedSummaries keys everything on `key`: the explicit
    // repartition, the last-delete window, and the per-key aggregate
    // must share ONE hash exchange — a second one would re-shuffle the
    // batch between stages for nothing
    import spark.implicits._
    val parsed = graft.cdc.MultiTable.parseAll(
      graft.cdc.ChangeGen.ops(seed = 9L, n = 200)
        .map(graft.cdc.ChangeGen.toJsonLine)
        .toDF("value"), MtTestSpecs.both)
    val typed = graft.cdc.JdbcMultiTable.typedSummaries(
      parsed.filter(org.apache.spark.sql.functions.col("tbl") === "person")
        .drop("tbl"), MtTestSpecs.person, parallelism = 4)
    val qe = typed.queryExecution
    qe.executedPlan.execute().foreach(_ => ())
    val finalPlan = qe.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1,
      s"typedSummaries re-shuffles between stages:\n$finalPlan")
  }

  test("skew datum: partial agg absorbs a hot key; AQE splits a hot join partition") {
    // The 100× decision datum behind agg_salted_skew (r6 verdict #6):
    // WHEN is manual salting actually needed?
    //  (a) Algebraic aggregates (sum/count/min/max — the L24 shape):
    //      never. Map-side partial aggregation collapses a hot key to
    //      one partial row PER MAP TASK before the exchange, so the
    //      reducer owning "hot" reads O(mappers) rows no matter how
    //      skewed the input. Proven here with task-level shuffle-read
    //      bytes: a 40% hot key leaves the max task share flat.
    //  (b) Join skew: AQE's OptimizeSkewedJoin splits the oversized
    //      partition at runtime (thresholds scale with partition size),
    //      so unsalted + AQE is the production answer there too —
    //      proven by the skew marker in the final adaptive plan AND a
    //      >3× drop in max-task shuffle-read bytes vs AQE-skew-off.
    // Manual salting remains for the residual case: holistic aggregates
    // whose partials don't collapse (and engines without AQE).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions._
    val rows = 200000
    // 40% of rows on one key, remainder spread over 997 keys
    def skewed = spark.range(rows).select(
      when(pmod(col("id"), lit(10)) < 4, lit("hot"))
        .otherwise(concat(lit("k"), pmod(col("id"), lit(997)))).as("key"),
      col("id").as("v"))

    class ShuffleTasks extends SparkListener {
      val bytes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && m.shuffleReadMetrics.totalBytesRead > 0)
          bytes.add(m.shuffleReadMetrics.totalBytesRead)
      }
    }
    // (max, total) shuffle-read bytes across the body's tasks. Task-end
    // events arrive on the async listener bus — poll to quiescence.
    def measure(body: => Unit): (Long, Long) = {
      val l = new ShuffleTasks
      spark.sparkContext.addSparkListener(l)
      try {
        body
        var last = -1; var stable = 0; var waited = 0
        while (stable < 3 && waited < 10000) {
          Thread.sleep(100); waited += 100
          if (l.bytes.size == last) stable += 1
          else { stable = 0; last = l.bytes.size }
        }
        import scala.jdk.CollectionConverters._
        val bs = l.bytes.asScala.map(_.longValue).toSeq
        (if (bs.isEmpty) 0L else bs.max, bs.sum)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
      val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // ---- (a) algebraic agg: skew never reaches the shuffle ----------
    withConf(
      "spark.sql.shuffle.partitions" -> "32",
      // coalescing merges the tiny test partitions and would blur the
      // per-task attribution; at 100 TB partitions are advisory-sized
      // and this doesn't apply
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val agg = skewed.groupBy("key").agg(sum("v").as("s"))
      assert(planString(agg).contains("partial_sum"),
        "algebraic agg must keep its map-side partial")
      val (maxAgg, totAgg) = measure(
        agg.write.format("noop").mode("overwrite").save())
      assert(totAgg > 0, "expected a shuffle to measure")
      assert(maxAgg * 5 < totAgg,
        s"hot key concentrated the agg shuffle: max task $maxAgg of " +
          s"$totAgg total — partial aggregation stopped absorbing skew")
    }

    // ---- (b) join skew: AQE splits; without it one task eats the key --
    withConf(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // force a shuffle join: the point is reducer-side skew, and at
      // 100 TB the probe side isn't broadcastable either
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // scale AQE's skew thresholds to the test's MB-sized partitions —
      // production leaves the 256 MB default; the MECHANISM is the same
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "131072") {
      def right = spark.range(997).select(
          concat(lit("k"), col("id")).as("key"),
          lit("x" * 32).as("payload"))
        .union(spark.range(1).select(lit("hot").as("key"),
          lit("x" * 32).as("payload")))
      // rebuilt under each conf so AQE plans against the active settings
      def joined = skewed.join(right, "key")
        .select(col("key"), col("v"), col("payload"))
      var maxOff = 0L
      withConf("spark.sql.adaptive.skewJoin.enabled" -> "false") {
        maxOff = measure(
          joined.write.format("noop").mode("overwrite").save())._1
      }
      val qe = joined.queryExecution
      val maxOn = measure(qe.executedPlan.execute().foreach(_ => ()))._1
      val finalPlan = qe.executedPlan.toString.split("== Initial Plan ==").head
      assert(finalPlan.toLowerCase.contains("skew"),
        s"AQE did not mark the skewed join:\n${finalPlan.take(1200)}")
      assert(maxOn * 3 < maxOff,
        s"skew split should bound the hot task: on=$maxOn off=$maxOff")
    }
  }

  test("j_stream_enrich: dim broadcasts, stream side never shuffles for the join") {
    // the streaming twin re-plans this per micro-batch with zero join
    // state — that only holds if the dim broadcasts; a sort-merge here
    // would shuffle every micro-batch of the stream side
    val s = planString(run("j_stream_enrich"))
    assert(s.contains("BroadcastHashJoin"), "dim must broadcast")
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"enrichment must not shuffle the stream side:\n${s.take(800)}")
  }

  test("j_stream_attrib: interval join keys on user_id, range stays inside the join") {
    // the stream-stream twin buffers state per user_id; the batch plan
    // must show the same discipline — an EQUI join on user_id with the
    // time-range as its condition, never a cartesian-with-filter (whose
    // streaming analog would be unbounded state)
    val s = planString(run("j_stream_attrib"))
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to a pair scan:\n${s.take(800)}")
    val joinLine = s.linesIterator
      .find(l => l.contains("Join") && !l.contains("Reused")).getOrElse("")
    assert(joinLine.contains("user_id"),
      s"join must key on user_id: $joinLine")
  }

  test("runtime bloom filter: selective dim filter reaches the fact side pre-shuffle") {
    // the 100 TB datum for non-broadcastable dim-fact joins: Spark's
    // InjectRuntimeFilter builds a bloom filter from the FILTERED dim
    // keys and applies it to the fact scan BEFORE the join shuffle, so
    // rows that cannot match never pay exchange bytes. Production keeps
    // the 10 MB creation / 10 GB application size gates (a 100 TB fact
    // trivially clears them); here they scale to fixture MBs — the
    // MECHANISM under test is the same.
    import org.apache.spark.sql.functions.{col, count, lit}
    def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
      val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConf(
      // force a shuffle join: with a broadcast the probe side already
      // filters via the broadcast relation, so no runtime filter —
      // this datum is about the joins too big to broadcast
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val dim = Tables(spark, sf, "orders")
        .filter(col("o_orderpriority") === lit("1-URGENT"))
      val fact = Tables(spark, sf, "lineitem")
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val s = planString(j)
      assert(s.contains("might_contain") ||
        s.toLowerCase.contains("bloomfilter"),
        s"runtime bloom filter not injected:\n${s.take(1500)}")
    }
  }

  test("native-kernel queries explode nothing: no Generate node") {
    // the GramStats/SimHashTokens rewrites' whole point is that the
    // per-row kernels replaced explode+aggregate pipelines — a reshape
    // that re-introduces a Generate silently reverts them
    Seq("ml_dedup_simhash", "ml_repetition").foreach { n =>
      val s = planString(run(n))
      assert(!s.contains("Generate"),
        s"$n re-introduced an explode:\n${s.take(400)}")
    }
  }

  private def withSessionConf(pairs: (String, String)*)(body: => Unit)
      : Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables co-locate: fact-fact equi join plans zero exchanges") {
    // the 100 TB claim behind "pre-bucket for co-located joins": both
    // sides written bucketed (+per-bucket sorted) on the join key with
    // EQUAL bucket counts → the join consumes the bucket layout
    // directly; no Exchange anywhere in the plan. This is what turns
    // the nightly fact-fact join from two full shuffles into a local
    // merge per bucket.
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-buck").toString
    withSessionConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
      Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$dir/li").saveAsTable("li_bucketed")
      Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$dir/ord").saveAsTable("ord_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val s = planString(joined)
      assert(s.contains("SortMergeJoin"), s"expected SMJ:\n${s.take(400)}")
      assert(!s.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n${s.take(800)}")
      // and it is the SAME answer the shuffled join gives
      assert(joined.count() ===
        Tables(spark, sf, "lineitem").count())
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("parquet aggregate pushdown: MIN/MAX/COUNT answered inside the scan") {
    // global min/max/count over 100 TB should read parquet FOOTERS, not
    // rows — DSv2's aggregate pushdown. Pin that the scan advertises
    // PushedAggregation and returns the same numbers the row-level
    // aggregate computes.
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val baseline = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(min("l_orderkey"), max("l_orderkey"), count(lit(1)))
      .collect()(0)
    withSessionConf(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "") {
      val df = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"),
          count(lit(1)).as("n"))
      val s = planString(df)
      assert(s.contains("PushedAggregation"),
        s"aggregate did not reach the scan:\n${s.take(800)}")
      val r = df.collect()(0)
      assert(r.getLong(0) === baseline.getLong(0) &&
        r.getLong(1) === baseline.getLong(1) &&
        r.getLong(2) === baseline.getLong(2))
    }
  }
}
