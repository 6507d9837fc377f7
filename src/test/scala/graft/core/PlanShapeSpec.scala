package graft.core

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.{PlanDump, SparkEntry, SparkTestBase}

/** Physical-plan shape regressions: the properties that make these
  * queries scale are asserted, not just observed in `explain` — a
  * future edit that sneaks in an extra shuffle or loses a broadcast
  * fails here, at sf0.001, long before it burns a cluster.
  *
  * Counts are (shuffle exchanges, broadcast exchanges) over the
  * initial adaptive plan, subqueries included.
  */
class PlanShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def shape(q: String): (Int, Int) =
    PlanDump.counts(SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan)

  test("q3_shipping: both dimensions broadcast, single agg shuffle") {
    val (sh, bc) = shape("q3_shipping")
    assert(sh == 1, s"expected 1 shuffle (agg), got $sh")
    assert(bc == 2, s"expected orders+customer broadcast, got $bc")
  }

  test("q_cosine_topk: brute-force scan is shuffle-free (broadcast query row + TakeOrdered)") {
    val (sh, bc) = shape("q_cosine_topk")
    assert(sh == 0, s"expected 0 shuffles, got $sh")
    assert(bc == 1, s"expected broadcast query vector, got $bc")
  }

  test("q_orderby_limit plans as TakeOrderedAndProject, no global sort exchange") {
    val (sh, _) = shape("q_orderby_limit")
    assert(sh == 0, s"expected 0 shuffles, got $sh")
  }

  test("q_join_orders_customer: dimension broadcasts, no sort-merge join") {
    val plan = SparkEntry.queries("q_join_orders_customer")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(20).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"), "dimension join degraded to SortMergeJoin")
  }

  test("q_ngram_jaccard: exactly bucket + pair aggregates + output sort") {
    val (sh, _) = shape("q_ngram_jaccard")
    assert(sh <= 3, s"pair mining grew beyond bucket/pair/sort shuffles: $sh")
  }

  test("q2_min_supplier: dims and the per-part min broadcast; only supply shuffles") {
    val (sh, bc) = shape("q2_min_supplier")
    assert(sh <= 3, s"expected supply distinct + min agg + sort only, got $sh")
    assert(bc >= 3, s"expected region dims + per-part min broadcast, got $bc")
  }

  test("q11_value_concentration: global total is a broadcast scalar, no fact rescan") {
    val plan = SparkEntry.queries("q11_value_concentration")(spark, dir)
      .queryExecution.executedPlan.toString
    val factScans = "lineitem\\.parquet".r.findAllIn(plan).size
    // the value table feeds the total via a reused exchange — the
    // observable contract is ONE lineitem scan, not one per aggregate
    assert(factScans <= 2, s"expected no correlated fact rescan, got $factScans scans")
  }

  test("q20_promo_suppliers: per-part total rides a window, one fact aggregation") {
    val (sh, bc) = shape("q20_promo_suppliers")
    assert(sh <= 4, s"expected fact agg + window + distinct + sort, got $sh")
    assert(bc >= 2, s"expected dims + eligible-set broadcast, got $bc")
  }

  test("q_dsir_weights: weight table broadcasts; top-N is TakeOrdered") {
    val (sh, bc) = shape("q_dsir_weights")
    assert(sh <= 3, s"expected token agg + doc agg shuffles only, got $sh")
    assert(bc >= 1, s"expected the vocabulary weight table broadcast, got $bc")
    val plan = SparkEntry.queries("q_dsir_weights")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "top-N degraded to a global sort")
  }

  test("q_dup_spans: window hashes map-side, bucket + pair aggregates + sort only") {
    val (sh, _) = shape("q_dup_spans")
    assert(sh <= 3, s"span mining grew beyond bucket/pair/sort shuffles: $sh")
  }

  test("q_minhash_pairs: map-side signatures (band agg + distinct + sort only)") {
    val (sh, bc) = shape("q_minhash_pairs")
    assert(sh <= 3, s"signature computation should add no shuffle, got $sh")
    assert(bc >= 2, s"verify stage should broadcast the doc-set table at this SF, got $bc")
  }

  test("q_sessionize: session agg reuses the window's user_id partitioning") {
    val (sh, _) = shape("q_sessionize")
    assert(sh == 2, s"expected window sort + output sort only (agg piggybacks), got $sh")
  }

  test("q1_agg: partial+final aggregate, no join machinery") {
    val (sh, bc) = shape("q1_agg")
    assert(sh <= 2, s"expected agg + sort shuffles only, got $sh")
    assert(bc == 0)
  }

  test("q10_returned: every dimension broadcasts; only the fact join shuffles") {
    val (sh, bc) = shape("q10_returned")
    assert(sh <= 2, s"expected fact-join/agg shuffles only, got $sh")
    assert(bc >= 2, s"expected customer+nation (and filtered orders) broadcast, got $bc")
  }

  test("q7_volume: geo gates broadcast pre-shuffle; fact-fact join shuffles") {
    val (sh, bc) = shape("q7_volume")
    // lineitem⋈orders is fact-fact — at 100 TB it MUST shuffle (both
    // sides pre-gated to 2-of-5 regions by the broadcast geo joins);
    // orderkey exchange ×2 + agg + sort is the ceiling
    assert(sh <= 4, s"expected 2 orderkey exchanges + agg/sort only, got $sh")
    assert(bc >= 2, s"expected supplier/customer geo branches broadcast, got $bc")
  }

  test("q18_big_orders: HAVING pre-aggregate runs before the join, dims broadcast") {
    val (sh, bc) = shape("q18_big_orders")
    assert(sh <= 2, s"expected qty pre-agg + fact join shuffles only, got $sh")
    assert(bc >= 1, s"expected customer broadcast, got $bc")
  }

  test("q21_waiting_supplier: aggregate reformulation adds no correlated rescans") {
    val plan = SparkEntry.queries("q21_waiting_supplier")(spark, dir)
      .queryExecution.executedPlan.toString
    // one lineitem scan feeding one per-order aggregate — the textbook
    // EXISTS/NOT-EXISTS form would plan two extra joins against lineitem.
    // == 1, not <= 1: proves the path is actually observable in the
    // plan string (plan truncation yielding 0 must fail, not pass)
    val factScans = "lineitem\\.parquet".r.findAllIn(plan).size
    assert(factScans == 1, s"expected exactly one observable lineitem scan, got $factScans")
    // the two-level aggregate must keep the filtered-countDistinct
    // Expand (which doubled every joined fact row) out of the plan
    assert(!plan.contains("Expand"), "q21 regressed to an Expand-planned distinct aggregate")
  }

  test("q_source_mix: the mixing decision is a map-side predicate (output sort only)") {
    val (sh, bc) = shape("q_source_mix")
    assert(sh <= 1, s"expected the output sort as the only exchange, got $sh")
    assert(bc == 0)
  }

  test("q_semantic_dedup: component labels join back without a data shuffle") {
    val (sh, _) = shape("q_semantic_dedup")
    // union-find path at this SF: labels ride a broadcast/literal map,
    // the only exchange is the output sort
    assert(sh <= 1, s"expected output sort only on the union-find path, got $sh")
  }

  test("q_bpe_pairs: one pair aggregate, top-N as TakeOrdered") {
    val (sh, bc) = shape("q_bpe_pairs")
    assert(sh == 1, s"expected the pair hash aggregate as the only exchange, got $sh")
    assert(bc == 0)
    val plan = SparkEntry.queries("q_bpe_pairs")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "top-50 degraded to a global sort")
  }

  test("q_vocab: corpus count shuffles once; the id window runs over the bounded vocab") {
    val (sh, _) = shape("q_vocab")
    // term aggregate + the single-partition vocab window + output sort
    assert(sh <= 3, s"expected count + vocab window + sort only, got $sh")
  }

  test("q_kmeans_assign: plan-literal centroids — map-side argmax, one agg shuffle") {
    val (sh, bc) = shape("q_kmeans_assign")
    assert(sh <= 2, s"expected agg + output sort shuffles only, got $sh")
    assert(bc == 0, s"centroids must ride as literals, not a join: got $bc broadcasts")
  }

  test("q_ann_sq8: stage 1 is a shuffle-free scan; shortlist and query broadcast") {
    val (sh, bc) = shape("q_ann_sq8")
    assert(sh == 0, s"expected 0 shuffles (TakeOrdered shortlist + re-rank), got $sh")
    assert(bc >= 2, s"expected shortlist + query-row broadcasts, got $bc")
  }

  test("q_join_bucketed: sort-merge join over bucketed scans has zero join-side exchanges") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec

    def smjShuffles(q: String): Int = {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"$q must plan a SortMergeJoin:\n" +
        plan.toString.linesIterator.take(20).mkString("\n"))
      smj.get.collect { case e: ShuffleExchangeExec => e }.size
    }

    // the flat twin over the identical data pays one shuffle per side…
    assert(smjShuffles("q_join_flat") == 2,
      "flat layout should shuffle both join inputs")
    // …which the bucketed layout eliminates entirely
    assert(smjShuffles("q_join_bucketed") == 0,
      "bucketed scans must feed the join with no Exchange")
  }

  test("q_classify: gated weight table broadcasts; scoring pays score+argmax+matrix shuffles") {
    val (sh, bc) = shape("q_classify")
    // training is checkpointed behind the size gate (its own jobs);
    // the SCORING plan is what remains: token join against the
    // broadcast weight table + score agg + argmax window + matrix agg
    // + output sort — and never one shuffle per class
    assert(sh <= 4, s"classifier scoring grew beyond agg/window/agg/sort shuffles: $sh")
    assert(bc >= 1, s"the size-gated weight table must broadcast below the bound, got $bc")
  }

  test("q_lm_quality: gated LM tables broadcast; one corpus scan per side") {
    val df = SparkEntry.queries("q_lm_quality")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the TRAIN pass is materialized behind the size gate (counts is a
    // checkpointed RDD — no documents scan survives in its branch);
    // the TEST side scans documents once for scoring and once for the
    // corpus-mean branch, which rides the per-doc aggregate's REUSED
    // exchange at runtime (the q11 scalar-subquery contract)
    val docScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(docScans <= 2, s"expected scoring + reused-exchange mean branch, got $docScans scans")
    assert(!plan.contains("SortMergeJoin"),
      "below the gate every model join must broadcast, not sort-merge")
    val (_, bc) = PlanDump.counts(df.queryExecution.executedPlan)
    assert(bc >= 3, s"counts, contexts and V must all broadcast below the bound, got $bc")
  }

  test("q_mix_temperature: one corpus aggregate; totals broadcast back") {
    val df = SparkEntry.queries("q_mix_temperature")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // totals derive from the |sources|-row aggregate through a reused
    // exchange — the observable contract is the scan count, not the
    // static exchange count (runtime ReuseExchange dedups the subtree)
    val docScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(docScans <= 2, s"expected one corpus aggregate (reused), got $docScans scans")
    val (_, bc) = PlanDump.counts(df.queryExecution.executedPlan)
    assert(bc >= 1, s"the 1-row totals must broadcast, got $bc")
  }

  test("q_url_canon: canonicalization is map-side — one agg shuffle plus the output sort") {
    val (sh, bc) = shape("q_url_canon")
    assert(sh <= 2, s"expected dedup agg + sort only, got $sh shuffles")
    assert(bc == 0, s"nothing should broadcast, got $bc")
  }

  test("q_encode_ids: the bounded vocab broadcasts; the encode pass has no data shuffle") {
    val df = SparkEntry.queries("q_encode_ids")(spark, dir)
    val (sh, bc) = PlanDump.counts(df.queryExecution.executedPlan)
    assert(bc >= 1, s"the vocabulary must broadcast, got $bc")
    // vocab build (agg + id window over the bounded vocab) + output
    // sort; the doc-side posexplode must never shuffle before the join
    assert(sh <= 3, s"encode grew beyond vocab-agg/vocab-window/sort: $sh")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "encode join must be broadcast")
  }

  test("q_data_card: one rollup aggregate, no join, one scan") {
    val df = SparkEntry.queries("q_data_card")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(docScans == 1, s"the datasheet must be one corpus pass, got $docScans scans")
    assert(!plan.contains("Join"), "no join belongs in a one-pass rollup")
    val (sh, _) = shape("q_data_card")
    assert(sh <= 3, s"expand/rollup agg + sort only, got $sh")
  }

  test("q_gap_fill: the calendar explodes from the span aggregate, never a global calendar") {
    val df = SparkEntry.queries("q_gap_fill")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the explode (Generate) must sit ABOVE the per-user span
    // aggregate — i.e. over |users| rows, not over the events scan
    val lines = plan.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    assert(genIdx >= 0, "expected a sequence explode in the plan")
    val aggBelow = lines.drop(genIdx).exists(l =>
      l.contains("HashAggregate") && (l.contains("min(") || l.contains("max(")))
    assert(aggBelow, "the explode must consume the span aggregate's output")
  }

  test("q_warc_ingest / q_csv_ingest / q_jsonl_ingest: parse-backs are sort-only plans") {
    for (q <- Seq("q_warc_ingest", "q_csv_ingest")) {
      val (sh, bc) = shape(q)
      assert(sh <= 1 && bc == 0, s"$q: expected scan+project+sort, got ($sh, $bc)")
    }
    val (sh, _) = shape("q_jsonl_ingest")
    assert(sh <= 3, s"q_jsonl_ingest: agg + union agg + sort, got $sh")
  }

  test("q_clean_text: the cleaning pass is pure map work — no shuffle before the sort") {
    val (sh, bc) = shape("q_clean_text")
    assert(sh <= 1 && bc == 0, s"expected scan+project+sort, got ($sh, $bc)")
  }

  test("q_gopher_rules: the structural gates are pure map work — no shuffle before the sort") {
    val (sh, bc) = shape("q_gopher_rules")
    assert(sh <= 1 && bc == 0, s"expected scan+project+sort, got ($sh, $bc)")
  }

  test("q_incremental_grown / q_ann_pq_append: grown-artifact reads never recompute the build") {
    // grown mine: two result parquets + the output sort, nothing else
    val (sh, bc) = shape("q_incremental_grown")
    assert(sh <= 1 && bc == 0, s"expected union+sort over results, got ($sh, $bc)")
    // grown PQ index: codes-only pruned scan + broadcast rerank, no shuffle
    val (sh2, _) = shape("q_ann_pq_append")
    assert(sh2 == 0, s"expected shuffle-free ADC+R serving, got $sh2")
    val df = graft.SparkEntry.queries("q_ann_pq_append")(spark, dir)
    // the scans' root paths, not the plan string: the string cuts a
    // scan's location at spark.sql.maxMetadataStringLength characters,
    // which a scratch path under the driver temp dir exceeds
    def scanRoots(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scanRoots(a.initialPlan)
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      case _ => (p.children ++ p.subqueries).flatMap(scanRoots)
    }
    val roots = scanRoots(df.queryExecution.executedPlan)
    assert(!roots.exists(_.contains("embeddings.parquet")) ||
      roots.exists(_.contains("graft_pq-index-append_")), "stage 1 must scan the grown code table")
  }

  test("q_moving_avg: one user-partition exchange serves both window frames") {
    val df = SparkEntry.queries("q_moving_avg")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // gap-fill's agg/join machinery + ONE window exchange; the two
    // trailing frames must share a single Window operator
    val windows = plan.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 2, s"the trailing frames must not multiply Window ops: $windows")
    val (sh, _) = shape("q_moving_avg")
    assert(sh <= 5, s"gap-fill chain + one window + sort, got $sh")
  }

  test("q_rag_retrieve: the k-row hit list broadcasts into the corpus join") {
    val df = SparkEntry.queries("q_rag_retrieve")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "hit-list join must broadcast")
    assert(!plan.contains("SortMergeJoin"), "a 5-row side must never sort-merge")
  }

  test("q_corpus_build: the graded read touches ONLY the artifact, never the raw corpus") {
    val df = SparkEntry.queries("q_corpus_build")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      "the serving read must come from the built artifact alone")
    val (sh, _) = shape("q_corpus_build")
    assert(sh <= 1, s"artifact scan + output sort only, got $sh")
  }

  test("q_lm_buckets: the per-doc rank window is banded, never per-language whole") {
    val df = SparkEntry.queries("q_lm_buckets")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the doc-level row_number must partition by (lang, band) — a
    // lang-only partition is one task per language at 100 TB; the
    // only lang-whole windows run over the O(langs×1024) band table
    val rankLines = plan.linesIterator.filter(_.contains("row_number")).toSeq
    assert(rankLines.nonEmpty && rankLines.forall(_.contains("band")),
      s"per-doc rank must partition by (lang, band):\n${rankLines.mkString("\n")}")
    val (_, bc) = PlanDump.counts(df.queryExecution.executedPlan)
    assert(bc >= 1, s"the band-offset table must broadcast back, got $bc")
  }

  test("q_pagerank: per-round lineage is CUT — the final plan is flat, not cumulative") {
    val (sh, _) = shape("q_pagerank")
    // every iteration localCheckpoints its rank frame, so the final
    // plan reads the last round's RDD and top-20s it — NOT a static
    // replay of 2 exchanges × 5 rounds (the pre-cut shape that leaned
    // on AQE stage reuse); per-round cost is flat by construction
    assert(sh == 0, s"pagerank output should ride the checkpointed rank frame, got $sh")
    val plan = SparkEntry.queries("q_pagerank")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "top-20 degraded to a global sort")
    assert(plan.contains("ExistingRDD"), "final plan must scan the checkpointed ranks")
  }

  test("q_label_prop: per-round lineage is CUT — output sort over the checkpointed labels") {
    val (sh, _) = shape("q_label_prop")
    assert(sh <= 1, s"label-prop output should be one sort over the checkpoint, got $sh")
    val plan = SparkEntry.queries("q_label_prop")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), "final plan must scan the checkpointed labels")
  }

  test("q_share_of_total: the month-total window rides the aggregate's partitioning") {
    val (sh, _) = shape("q_share_of_total")
    // cell aggregate + (window re-partition on month) + output sort —
    // and never a second data-level exchange
    assert(sh <= 3, s"ratio-to-report grew beyond agg/window/sort: $sh")
  }

  test("q_anomaly: one stats aggregate, stats broadcast back, output sort") {
    val (sh, bc) = shape("q_anomaly")
    assert(sh <= 2, s"anomaly detection grew beyond agg+sort shuffles: $sh")
    assert(bc >= 1, s"the O(groups) stats table must broadcast, got $bc")
  }

  test("q_cohort_retention: user window + distinct + matrix agg share the pipeline") {
    val (sh, _) = shape("q_cohort_retention")
    assert(sh <= 4, s"retention grew beyond window/distinct/agg/sort shuffles: $sh")
  }

  test("q_triangles: wedge joins stay on the bounded edge set (no output sort)") {
    val (sh, _) = shape("q_triangles")
    // dedup of the undirected edges + the wedge/closure joins + the
    // single-row count — bounded by the O(kN) edge artifact
    assert(sh <= 5, s"triangle count grew beyond its bounded joins: $sh")
  }

  test("q_basket_pairs: one basket pass + PairExpand; metric joins broadcast; top-N is TakeOrdered") {
    val (sh, bc) = shape("q_basket_pairs")
    // one groupBy(user) basket build (collect_set folds the JSON parse
    // and the (user, item) distinct into a single exchange), PairExpand
    // over the sorted item set instead of a basket self-join, then the
    // item-count and pair-count aggregates off the checkpointed baskets
    assert(sh <= 5, s"basket mining grew beyond its aggregates: $sh")
    assert(bc >= 2, s"item-count and corpus-size tables must broadcast, got $bc")
    val plan = SparkEntry.queries("q_basket_pairs")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "top-30 degraded to a global sort")
  }

  test("q_tx_gencol_part: the base-column filter scans only the derived month partitions") {
    val df = SparkEntry.queries("q_tx_gencol_part")(spark, dir)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.initialPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(s) ++ p.children.flatMap(scansOf)
      case _ => p.children.flatMap(scansOf)
    }
    val files = scansOf(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.inputFiles).distinct
    val total = graft.ext.ScaleOps.gencolOrdersTable(spark, dir).state().files.size
    // ~79 month partitions, a 31-day probe: the optimizer-rule path
    // (plain .where, no scan() call) must derive the month bounds from
    // the GENERATED declaration and plan over the 1-2 hot files
    assert(files.nonEmpty && files.size <= 3 && files.size < total,
      s"derived partition pruning lost: planned ${files.size} of $total files")
  }

  test("q_tx_merge_evolve: evolved read stays one scan + one aggregate, sort only") {
    val (sh, _) = shape("q_tx_merge_evolve")
    // group-by-channel aggregate + output sort; no join machinery may
    // sneak into reading a schema-evolved table
    assert(sh <= 2, s"evolved-table read grew extra exchanges: $sh")
  }

  test("q_tx_ivm_view/q_tx_ivm_avg: the maintained view answers with NO fact scan") {
    for (q <- Seq("q_tx_ivm_view", "q_tx_ivm_avg")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("orders.parquet"),
        s"$q must read the view, never rescan the fact table")
      val (sh, _) = shape(q)
      assert(sh <= 1, s"$q: reading a tiny view needs at most the output sort, got $sh")
    }
  }

  test("q_tx_cdf: the change feed reads change files only, never the table") {
    val df = SparkEntry.queries("q_tx_cdf")(spark, dir)
    // every scanned file is a cdf sidecar; the 8 base data files of
    // the clustered clone never appear in the feed's scan (descend
    // through AQE's initialPlan — collect() stops at the AQE root)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.initialPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(s) ++ p.children.flatMap(scansOf)
      case _ => p.children.flatMap(scansOf)
    }
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val files = scans.flatMap(_.relation.location.inputFiles)
    assert(files.nonEmpty && files.forall(_.contains("cdf")),
      s"feed must scan only change files, got:\n${files.mkString("\n")}")
  }

  test("AQE skew-join split engages on a power-law join (the runtime half of the skew story)") {
    import spark.implicits._
    // power-law: one hot key holding ~95% of rows on both sides — the
    // shape that wedges one reducer of a plain sort-merge join
    val hot = (0 until 60000).map(i => (0L, i.toLong))
    val tail = (1 to 200).flatMap(k => (0 until 20).map(i => (k.toLong, i.toLong)))
    val left = (hot ++ tail).toDF("k", "a")
    // distinct payloads on the two sides: with identical pruned
    // columns the planner REUSES one exchange for both join children,
    // and OptimizeSkewedJoin then skips the split (observed here) —
    // a reused-exchange self-join is the one skew shape AQE won't fix
    val right = (hot ++ tail).map { case (k, v) => (k, v + 1) }.toDF("k", "b")
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // force SMJ and scale AQE's skew thresholds down to fixture size
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // downstream must be a GLOBAL aggregate: a same-key groupBy
      // right after the join pins the join's output partitioning, and
      // AQE (correctly) refuses a skew split that would force an
      // extra shuffle — the production skew shape is join → reduce
      val joined = left.join(right, "k")
        .agg(org.apache.spark.sql.functions.sum($"a" + $"b").as("n"))
      // result stays exact through the skew split
      joined.collect()
      // the FINAL adaptive plan must carry the skew-split join — this
      // is what turns one wedged reducer into parallel sub-joins
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE skew-join did not engage:\n${finalPlan.linesIterator.take(30).mkString("\n")}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
