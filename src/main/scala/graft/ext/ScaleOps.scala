package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{IndexCache, Tables}

/** Scale-path utilities: sketch aggregates, Bloom-filter incremental
  * dedup, and salted aggregation for skewed keys — the techniques the
  * 100 TB deployment leans on (SURVEY.md §7.5.8).
  */
object ScaleOps {

  /** Approximate distinct/percentile sketch summary (HyperLogLog++ /
    * QuantileSummaries — both mergeable, partial-aggregated map-side).
    * Sketch INTERNALS differ across engines by design, so the
    * oracle-checkable output is (exact stats, sketch-bound flags): the
    * HLL estimate must sit within 3·rsd of the exact distinct count,
    * and each percentile estimate's exact rank must sit within the
    * sketch's documented rank-error window (computed by a rank
    * sandwich — strict/non-strict counts against the estimate — which
    * is duplicate-value-safe). Both bound checks hold under ANY
    * partial-merge order (HLL registers max-merge order-independently;
    * GK's ε-guarantee survives merging), so the flags are stable
    * whatever parallelism the driver runs with, and DuckDB reproduces
    * the exact side. The sketches stay in the executed plan — this IS
    * the distributed-sketch operator, with a machine-checkable
    * contract instead of an unverifiable estimate dump.
    */
  def qApproxStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val sk = ev.groupBy($"event_type").agg(
      approx_count_distinct($"user_id", rsd = 0.02).as("approx_users"),
      percentile_approx($"value", lit(0.5), lit(10000)).as("p50_est"),
      percentile_approx($"value", lit(0.99), lit(10000)).as("p99_est"),
      countDistinct($"user_id").as("exact_users"),
      count(lit(1)).as("n"))
    val ranks = ev
      .join(broadcast(sk.select($"event_type".as("et"), $"p50_est", $"p99_est")),
        $"event_type" === $"et")
      .groupBy($"event_type").agg(
        sum(when($"value" < $"p50_est", 1L).otherwise(0L)).as("lt50"),
        sum(when($"value" <= $"p50_est", 1L).otherwise(0L)).as("le50"),
        sum(when($"value" < $"p99_est", 1L).otherwise(0L)).as("lt99"),
        sum(when($"value" <= $"p99_est", 1L).otherwise(0L)).as("le99"))
    // rank slack: accuracy=10⁴ ⇒ ε·n = n/10⁴; merged GK summaries can
    // double ε; keep an absolute floor for tiny groups → max(4, n/500)
    val slack = greatest(lit(4L), ($"n" / 500L).cast("long"))
    sk.join(ranks, "event_type")
      .select($"event_type", $"n", $"exact_users",
        // |hll − exact| ≤ 3·rsd·exact = 6% — integer-only comparison
        (abs($"approx_users" - $"exact_users") * 100L <= $"exact_users" * 6L)
          .cast("long").as("hll_ok"),
        // exact rank of the p50 estimate within n/2 ± slack
        ($"lt50" * 2L <= $"n" + slack * 2L && $"le50" * 2L >= $"n" - slack * 2L)
          .cast("long").as("p50_ok"),
        // exact rank of the p99 estimate within 0.99·n ± slack
        ($"lt99" * 100L <= $"n" * 99L + slack * 100L &&
          $"le99" * 100L >= $"n" * 99L - slack * 100L)
          .cast("long").as("p99_ok"))
      .orderBy($"event_type")
  }

  /** Incremental dedup against an existing corpus via a Bloom filter:
    * build the filter over the existing keys (one pass, mergeable,
    * broadcast as a few MB even for billions of keys), drop new rows
    * that *might* be present only after an exact semi-join on the
    * (tiny) possibly-duplicate subset. Two-phase: the Bloom pass is
    * map-side and prunes the shuffle to candidate rows only.
    */
  def bloomDedup(newRows: DataFrame, existing: DataFrame, keyCol: String,
                 expectedKeys: Long, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    // Spark's bloomFilter over zero rows yields a filter whose bits
    // never materialize (NPE on mightContain) — and an empty corpus
    // can't contain anything anyway
    if (existing.isEmpty) return newRows
    val bloom = existing.stat.bloomFilter(keyCol, expectedKeys, fpp)
    val bloomBc = newRows.sparkSession.sparkContext.broadcast(bloom)
    // typed dispatch: bloomFilter hashes longs and strings differently
    val mightContain = newRows.schema(keyCol).dataType match {
      case LongType | IntegerType =>
        udf((k: java.lang.Long) => k != null && bloomBc.value.mightContainLong(k))
      case StringType =>
        udf((k: String) => k != null && bloomBc.value.mightContainString(k))
      case other => throw new IllegalArgumentException(
        s"bloomDedup supports long/int/string keys, got ${other.simpleString}")
    }
    // null keys can't be in the corpus → definitely new. The two
    // branches re-scan newRows; at scale persist newRows (or stage
    // it) before calling — left to the caller who owns the lifecycle.
    val definitelyNew = newRows.where(!mightContain(col(keyCol)))
    val verifiedNew = newRows.where(mightContain(col(keyCol)))
      .join(existing.select(col(keyCol)), Seq(keyCol), "left_anti")
    definitelyNew.unionByName(verifiedNew)
  }

  /** Skew-resistant aggregation: salt the key into `saltFactor`
    * subkeys, aggregate partially per (key, salt), then re-aggregate
    * per key — caps any single reducer's load at 1/saltFactor of the
    * hottest key. (AQE skew-join handles join skew; this is the
    * aggregation analog for algebraic aggregates.)
    */
  def saltedSumCount(df: DataFrame, key: String, valueCol: Column,
                     saltFactor: Int): DataFrame = {
    val salted = df
      .withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(saltFactor)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(valueCol).as("_psum"), count(lit(1)).as("_pcnt"))
    salted.groupBy(col(key))
      .agg(sum(col("_psum")).as("total"), sum(col("_pcnt")).as("n"))
  }

  /** Token heavy hitters over documents: the classic two-pass
    * sketch-then-verify. Pass 1 runs the Misra-Gries sketch
    * ([[graft.functions.HeavyHitters]], mergeable O(k) buffers) and
    * the total count in one aggregate subtree; MG guarantees every
    * token with frequency > n/k is among its ≤ k−1 candidates. Pass 2
    * exact-counts ONLY the candidate tokens (a broadcast join prunes
    * the shuffle to a handful of keys) and keeps those strictly above
    * n/k. Output = exactly {token | freq > n/k} with exact counts —
    * deterministic, so oracle-checkable, while the sketch remains the
    * mechanism that makes pass 2 cheap at 100 TB.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 32
    val toks = Tables.load(s, dir, "documents")
      .select(explode(TextAnalysis.tokens($"text")).as("token"))
    // all lazy — no action inside the builder. Sketch and total come
    // from ONE aggregate subtree (referenced once), exploded to
    // (candidate token, n) rows ≤ k−1, which broadcast-join the token
    // stream: pass 1 = one scan, pass 2 = one scan.
    val candidatesWithTotal = toks
      .agg(graft.functions.HeavyHitters($"token", k).as("hh"), count(lit(1)).as("n"))
      .select(explode($"hh.token").as("token"), $"n")
    toks.join(broadcast(candidatesWithTotal), Seq("token"))
      .groupBy($"token", $"n")
      .agg(count(lit(1)).as("n_occurrences"))
      .where($"n_occurrences" * k > $"n")
      .select($"token", $"n_occurrences")
      .orderBy($"n_occurrences".desc, $"token")
  }

  /** The Bloom-prune incremental dedup as an ORACLE-VERIFIED query:
    * documents from the "new" half of the corpus (src10-19) whose
    * exact content fingerprint does not appear in the "existing" half
    * (src0-9). The oracle is the plain NOT EXISTS anti-join, so the
    * hash compare proves the Bloom prune + exact-verify split loses
    * and invents nothing (false positives are re-checked exactly;
    * false negatives cannot exist).
    */
  def qBloomNewDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fingerprinted = Tables.load(s, dir, "documents")
      .withColumn("fingerprint", md5(to_binary(trim($"text"), lit("utf-8"))))
    // source ids are src0..srcN — the numeric suffix splits the corpus
    val srcNum = substring($"source", 4, 10).cast("int")
    val existing = fingerprinted.where(srcNum < 10)
    val newDocs = fingerprinted.where(srcNum >= 10)
    bloomDedup(newDocs, existing, "fingerprint", expectedKeys = 100000L)
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  /** The salted two-phase aggregate as an ORACLE-VERIFIED query: per
    * supplier, exact quantity sum and row count, computed through the
    * (key, salt) partial / key final split — the oracle is the PLAIN
    * group-by, so the hash compare proves salting changes nothing.
    * Decimal partials make the double result order-independent (a raw
    * double sum would differ between the one-phase and two-phase
    * groupings in the last ulps).
    */
  def qSaltedAgg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    saltedSumCount(Tables.load(s, dir, "lineitem"), "l_suppkey",
        col("l_quantity").cast(DecimalType(18, 2)), saltFactor = 8)
      .select(col("l_suppkey"), col("total").cast("double").as("sum_qty"), col("n"))
      .orderBy(col("l_suppkey"))
  }

  /** Interval-concurrency by SWEEP LINE with a DISTRIBUTED prefix
    * sum: how many orders are open on each calendar day (each order
    * stays open `o_orderkey % 30` days — a deterministic synthetic
    * duration). Each interval becomes two delta events (+1 at start,
    * −1 past end); per-day nets aggregate once; the running total is
    * computed scalably: an in-month cumulative window PARTITIONED by
    * month plus a broadcast join of prior-month offsets — the only
    * unpartitioned window runs over month totals (bounded by the
    * calendar, thousands of rows at any corpus size), never over the
    * data. This is the O(n log n) alternative to the naive
    * point-in-interval range join (cf. [[graft.plans.BinnedRangeJoin]]
    * when both sides are materialized tables), and the
    * two-level-prefix-sum shape is the general recipe for any global
    * cumulative at 100 TB.
    */
  def qOpenIntervals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val o = Tables.load(s, dir, "orders")
      .select(to_date($"o_orderdate").as("sd"),
        ($"o_orderkey" % 30).cast("int").as("len"))
    // both the in-month window and the month totals consume the
    // per-day nets — checkpoint them once (lazy; see
    // MinHashDedup's doc-set table for the pattern rationale)
    val net = o
      .select(explode(array(
        struct($"sd".as("d"), lit(1L).as("delta")),
        struct(date_add($"sd", $"len" + lit(1)).as("d"), lit(-1L).as("delta")))).as("e"))
      .select($"e.d".as("d"), $"e.delta".as("delta"))
      .groupBy($"d").agg(sum($"delta").as("net"))
      .withColumn("m", trunc($"d", "mm"))
      .localCheckpoint(false)
    val inMonth = net
      .withColumn("cum_in", sum($"net").over(Window.partitionBy($"m").orderBy($"d")))
    val offsets = net.groupBy($"m").agg(sum($"net").as("mt"))
      .select($"m", coalesce(
        sum($"mt").over(Window.orderBy($"m")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
    inMonth.join(broadcast(offsets), "m")
      .select($"d", $"net".cast("long").as("net"),
        ($"cum_in" + $"off").cast("long").as("open"))
      .orderBy($"d")
  }

  /** Bucketed fact⋈fact tables for [[qJoinBucketed]], written ONCE per
    * data directory ([[graft.core.IndexCache]] memo — the same
    * build-once lifecycle as the ANN indexes: a real deployment
    * buckets its fact tables at ingest, not per query). Both sides
    * bucket+sort on the join key with equal bucket counts, so their
    * scans report compatible HashPartitioning and the sort-merge join
    * needs no Exchange on either side.
    */
  private def bucketedJoinTables(s: SparkSession, dir: String): (String, String) =
    // keyed by applicationId as well as directory (the shingle-table
    // convention): table registrations live in one session's in-memory
    // catalog, so a memo hit from an earlier SparkSession would hand a
    // later one table names its own catalog never saw (TABLE_NOT_FOUND)
    IndexCache.memo(
      s"bucketed-join:${s.sparkContext.applicationId}:$dir:buckets=16") {
      val tag = dir.replaceAll("[^a-zA-Z0-9]+", "_").stripPrefix("_").stripSuffix("_")
      val li = s"lineitem_bkt_$tag"
      val ord = s"orders_bkt_$tag"
      // a previous PROCESS may have left the managed-table directory in
      // the warehouse while this session's in-memory catalog has no
      // such table — saveAsTable would then fail LOCATION_ALREADY_EXISTS;
      // clear both sides before writing
      Seq(li, ord).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir")), t)
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      }
      graft.core.Layout.writeBucketed(
        Tables.load(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        li, "l_orderkey", buckets = 16)
      graft.core.Layout.writeBucketed(
        Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        ord, "o_orderkey", buckets = 16)
      (li, ord)
    }

  /** Shared body of the flat/bucketed join pair: revenue per order
    * priority over lineitem ⋈ orders. The merge hint pins BOTH
    * variants to a sort-merge join — at 100 TB neither side of a
    * fact⋈fact join broadcasts, and holding the algorithm fixed
    * isolates the layout effect the pair exists to measure. Decimal
    * partials keep the double sum independent of partitioning
    * (the [[qSaltedAgg]] convention).
    */
  private def joinRevenueByPriority(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    lineitem.join(orders.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** The fact⋈fact join over the PLAIN parquet layout: both sides
    * shuffle on the join key before the sort-merge join — the cost
    * [[qJoinBucketed]] eliminates. Same oracle as the bucketed twin.
    */
  def qJoinFlat(s: SparkSession, dir: String): DataFrame =
    joinRevenueByPriority(
      Tables.load(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
      Tables.load(s, dir, "orders").select("o_orderkey", "o_orderpriority"))

  /** The SAME join over the bucketed layout
    * ([[graft.core.Layout.writeBucketed]]): the scans report the
    * bucketing as HashPartitioning, so the sort-merge join plans with
    * ZERO Exchange on either side (asserted in `PlanShapeSpec`;
    * PLANS.md row) — at 100 TB this is the difference between moving
    * both fact tables over the network per query and moving nothing.
    * First call per directory pays the one-time bucketed write
    * (memoized; the bench's min-of-2 policy reports the steady-state
    * join, as in the ANN index queries).
    */
  def qJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val (li, ord) = bucketedJoinTables(s, dir)
    joinRevenueByPriority(s.table(li), s.table(ord))
  }

  // January 1996 as epoch-day bounds — the ~1.3% range probe the
  // clustered table answers by opening ~1 of 16 files
  private[ext] val TxSkipLo = 9496L
  private[ext] val TxSkipHi = 9526L

  private def datekey: Column =
    floor(unix_timestamp(col("o_orderdate")) / 86400L).cast("long")

  /** A fixture table built once per (session, dir) by `build` at its
    * [[IndexCache.scratch]] path; every call returns a fresh handle.
    */
  private def txFixture(s: SparkSession, name: String, dir: String)(
      build: graft.core.TxTable => Unit): graft.core.TxTable =
    new graft.core.TxTable(s, IndexCache.scratch(s, name, dir) { p =>
      build(new graft.core.TxTable(s, p)); p
    })

  /** ACID orders table clustered by epoch-day (`repartitionByRange` +
    * in-file sort), built ONCE per (session, data dir) — the at-ingest
    * lifecycle: a production table is written time-clustered so its
    * per-file footer stats make every later time probe open only the
    * overlapping files ([[graft.core.TxTable.scan]]).
    */
  private[ext] def clusteredOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-skip", dir) { t =>
      t.append(Tables.load(s, dir, "orders")
        .select(datekey.as("o_datekey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(16, col("o_datekey"))
        .sortWithinPartitions("o_datekey"))
    }

  /** ACID orders table PARTITIONED BY a GENERATED month column
    * (`o_monthkey GENERATED AS o_epochsec div 2678400`,
    * `partitionBy = o_monthkey`) — the Delta generated-partition-column
    * pattern. The graded read filters ONLY on the base `o_epochsec`
    * column; [[graft.core.TxTable]] derives the month-key bounds from
    * the declaration (`TxTable.deriveGeneratedShapes`) so the
    * partition layout prunes without the query ever naming it. The
    * builder asserts the derived prune actually drops the cold months,
    * so the query fails loudly if derivation ever silently stops.
    */
  private[graft] def gencolOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    // NOTE: distinct memo key/tmp path from q_tx_gencol's fixture —
    // a shared key would hand one query the other's table
    txFixture(s, "tx-gencolpart", dir) { t =>
      import org.apache.spark.sql.types._
      t.create(StructType(Seq(
        StructField("o_epochsec", LongType), StructField("o_orderpriority", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_monthkey", LongType))))
      t.addGeneratedColumn("o_monthkey", "o_epochsec div 2678400")
      t.append(Tables.load(s, dir, "orders")
        .select(unix_timestamp(col("o_orderdate")).as("o_epochsec"),
          col("o_orderpriority"), col("o_totalprice")),
        partitionBy = Seq("o_monthkey"))
      val st = t.state()
      val pruned = t.prunedFiles(st,
        col("o_epochsec") >= TxSkipLo * 86400L &&
          col("o_epochsec") < (TxSkipHi + 1L) * 86400L)
      require(pruned.size < st.files.size / 4 && pruned.nonEmpty,
        s"generated-column derivation must prune the month partitions: " +
          s"opened ${pruned.size} of ${st.files.size}")
    }

  /** The window aggregate through the generated-partition layout: the
    * filter names ONLY the base second-resolution column; the answer
    * must equal the plain datekey-window oracle (midnight-aligned
    * dates make the two windows identical).
    */
  def qTxGencolPart(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(gencolOrdersTable(s, dir).read()
      .where(col("o_epochsec") >= TxSkipLo * 86400L &&
        col("o_epochsec") < (TxSkipHi + 1L) * 86400L))

  private def txWindowAgg(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    df.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** The time-window aggregate over the PLAIN parquet layout: the scan
    * reads every file (the predicate still pushes to row groups, but
    * file listing and footer reads are O(table)). Same oracle as the
    * skipped twin.
    */
  def qTxFlat(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(Tables.load(s, dir, "orders")
      .select(datekey.as("o_datekey"), col("o_orderpriority"), col("o_totalprice"))
      .where(col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi))

  /** The SAME aggregate through [[graft.core.TxTable.scan]] on the
    * clustered ACID table: manifest min/max stats prune the file list
    * BEFORE any footer is opened — at 100 TB the difference between
    * listing+reading stats for every file of the table and opening
    * only the ~1 file whose range overlaps the probe. First call per
    * directory pays the one-time clustered write (memoized; min-of-2
    * reports the steady state, as with the ANN indexes).
    */
  def qTxSkip(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(clusteredOrdersTable(s, dir)
      .scan(col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi))

  // January 1997 — a second window a year past the first, for the
  // disjunctive probe (1996 is a leap year: 9496 + 366 = 9862)
  private[ext] val TxSkipLo2 = 9862L
  private[ext] val TxSkipHi2 = 9892L

  /** The DISJUNCTIVE window probe over the same clustered table: two
    * distant one-month windows ORed. Per-branch stat pruning
    * (`OrShape`) opens only the files overlapping EITHER window —
    * before disjunction support an OR degraded to Opaque and re-opened
    * all 16 files, the difference between 2 touched files and a full
    * rescan at 100 TB.
    */
  def qTxSkipOr(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(clusteredOrdersTable(s, dir)
      .scan((col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi) ||
        (col("o_datekey") >= TxSkipLo2 && col("o_datekey") <= TxSkipHi2)))

  /** A clustered clone hit by PREDICATE-SCOPED compaction
    * ([[graft.core.TxTable.compact]] `where`): only the files
    * overlapping the January-1996 window rewrite (OPTIMIZE ... WHERE —
    * maintenance on the hot region, O(region) not O(table)); the cold
    * files carry untouched. Built once per (session, dir).
    */
  private[ext] def scopedCompactOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-compactwhere", dir) { t =>
      t.append(Tables.load(s, dir, "orders")
        .select(datekey.as("o_datekey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(16, col("o_datekey"))
        .sortWithinPartitions("o_datekey"))
      t.compact(where =
        Some(col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi))
    }

  /** The window aggregate THROUGH A SCAN over the scoped-compacted
    * table: matches the oracle only if the scoped rewrite preserved
    * exactly the window's rows and the repacked file's recomputed
    * stats still answer the probe (a stat regression would silently
    * widen or narrow the scan).
    */
  def qTxCompactWhere(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(scopedCompactOrdersTable(s, dir)
      .scan(col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi))

  /** ZERO-COPY CLONE of the clustered table
    * ([[graft.core.TxTable.cloneTo]]): data files are hard-linked and
    * the manifest — with its pruning stats and any sidecars — is
    * re-rooted, so at 100 TB a clone is O(metadata), not O(data). The
    * clone then takes its own append OUTSIDE every graded window:
    * proves the copy is independently writable without perturbing the
    * shared source (whose `q_tx_skip` is graded in the same run).
    * Built once per (session, dir).
    */
  private[ext] def clonedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-clone", dir) { t =>
      val clone = clusteredOrdersTable(s, dir).cloneTo(t.tablePath)
      import s.implicits._
      clone.append(Seq((0L, "0-EXTRA", 1.0d))
        .toDF("o_datekey", "o_orderpriority", "o_totalprice"))
    }

  /** The window aggregate THROUGH THE CLONE's scan: matches the oracle
    * only if the linked files + re-rooted stats answer the probe
    * exactly and the clone's own post-clone append stayed out of the
    * window — clone correctness and divergence isolation in one hash.
    */
  def qTxClone(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(clonedOrdersTable(s, dir)
      .scan(col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi))

  /** Key-clustered ACID clone of orders with a deterministic MERGE
    * applied — price bump for keys divisible by 100 (updates), shifted
    * keys divisible by 1000 (inserts) — built once per (session, dir).
    * The copy-on-write rewrite touches only the files whose key range
    * contains a matched key ([[graft.core.TxTable.merge]]).
    */
  private[ext] def mergedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-merge", dir) { t =>
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      t.append(base.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      val updates = base.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(10000.0d))
      // shift derived from the data, not a constant: a fixed offset
      // collides with real keys once max(o_orderkey) outgrows it
      // (TPC-H keys reach 6M·SF), and colliding keys would make the
      // source self-duplicate and abort the merge
      val inserts = base.where(col("o_orderkey") % 1000 === 0)
        .withColumn("o_orderkey",
          col("o_orderkey") + base.agg(max(col("o_orderkey"))).head.getLong(0) + 1L)
      t.merge(updates.unionByName(inserts), Seq("o_orderkey"))
    }

  /** The post-MERGE table aggregated by priority: matches the oracle's
    * SQL reconstruction (anti-join + union) ONLY if the upsert
    * replaced exactly the matched keys, inserted exactly the new ones,
    * and left every other row byte-identical — the correctness check
    * of the copy-on-write merge itself.
    */
  def qTxMerge(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(mergedOrdersTable(s, dir).read())

  /** MERGE-TIME SCHEMA EVOLUTION graded end-to-end: the source of a
    * conditional merge carries a column the table has never seen
    * (`o_channel`), the explicit clauses target it under
    * `withSchemaEvolution()`, and the widened table must match a
    * DuckDB reconstruction — matched keys get channel + price bump,
    * new keys insert with channel, every untouched row reads channel
    * NULL. The upstream-added-a-column-mid-stream CDC case.
    */
  private[ext] def mergeEvolvedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-mergevo", dir) { t =>
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      t.append(base.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      val mx = base.agg(max(col("o_orderkey"))).head.getLong(0)
      val src = base.where(col("o_orderkey") % 50 === 0)
        .withColumn("o_channel",
          when(col("o_orderkey") % 100 === 0, lit("web")).otherwise(lit("store")))
        .unionByName(base.where(col("o_orderkey") % 500 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + mx + 1L)
          .withColumn("o_channel", lit("new")))
      t.mergeBuilder(src, Seq("o_orderkey"))
        .withSchemaEvolution()
        .whenMatchedUpdate(Map(
          "o_totalprice" -> "s.o_totalprice + 1000.0D",
          "o_channel" -> "s.o_channel"))
        .whenNotMatchedInsert(Map(
          "o_orderkey" -> "s.o_orderkey",
          "o_orderpriority" -> "s.o_orderpriority",
          "o_totalprice" -> "s.o_totalprice",
          "o_channel" -> "s.o_channel"))
        .run()
    }

  def qTxMergeEvolve(s: SparkSession, dir: String): DataFrame =
    mergeEvolvedOrdersTable(s, dir).read()
      .groupBy(coalesce(col("o_channel"), lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("channel"))

  /** Key-clustered ACID clone of orders hit by ONE conditional MERGE
    * ([[graft.core.TxTable.mergeBuilder]]) exercising every clause
    * family at once: matched DELETE (op='D'), matched UPDATE with a
    * cross-side SET (t.price + s.price), a CONDITIONAL insert
    * (op='I' inserts, op='X' is dropped), and both NOT MATCHED BY
    * SOURCE clauses (delete one unmatched key slice, re-label
    * another). Built once per (session, dir).
    */
  private[ext] def condMergedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-mergecond", dir) { t =>
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      t.append(base.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      val shift = base.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
      val upserts = base.where(col("o_orderkey") % 50 === 0)
        .withColumn("op",
          when(col("o_orderkey") % 200 === 0, lit("D")).otherwise(lit("U")))
      val inserts = base.where(col("o_orderkey") % 250 === 0)
        .withColumn("op",
          when(col("o_orderkey") % 500 === 0, lit("I")).otherwise(lit("X")))
        .withColumn("o_orderkey", col("o_orderkey") + lit(shift))
      t.mergeBuilder(upserts.unionByName(inserts), Seq("o_orderkey"))
        .whenMatchedDelete("s.op = 'D'")
        .whenMatchedUpdate(Map("o_totalprice" -> "t.o_totalprice + s.o_totalprice"))
        .whenNotMatchedInsertAll("s.op = 'I'")
        .whenNotMatchedBySourceDelete("t.o_orderkey % 97 = 5")
        .whenNotMatchedBySourceUpdate(
          Map("o_orderpriority" -> "'9-BYSRC'"), "t.o_orderkey % 97 = 13")
        .run()
    }

  /** The post-conditional-MERGE table aggregated by priority: matches
    * the oracle's per-clause SQL reconstruction ONLY if every clause
    * claimed exactly its rows, in order, and left the rest untouched.
    */
  def qTxMergeCond(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(condMergedOrdersTable(s, dir).read())

  /** Priority-partitioned ACID clone of orders hit by ONE dynamic
    * partition overwrite ([[graft.core.TxTable.overwriteDynamic]]):
    * the frame holds recomputed rows (even keys, doubled price) for
    * TWO priorities, so exactly those partitions swap and the other
    * three survive byte-identical — the daily-reprocess verb, graded.
    * Built once per (session, dir).
    */
  private[ext] def dynPartOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-dynpart", dir) { t =>
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      t.append(base, partitionBy = Seq("o_orderpriority"))
      val recomputed = base
        .where(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM") &&
          col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      t.overwriteDynamic(recomputed, Seq("o_orderpriority"))
    }

  /** The post-dynamic-overwrite table aggregated by priority: matches
    * the oracle ONLY if exactly the two frame-present partitions were
    * replaced and the rest carried.
    */
  def qTxDynpart(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(dynPartOrdersTable(s, dir).read())

  /** An ACID orders table built ENTIRELY through SQL statements
    * against [[graft.sql.GraftCatalog]] — CREATE TABLE PARTITIONED BY,
    * INSERT INTO, a static-partition INSERT OVERWRITE (the
    * `replaceWhere` slice swap), DELETE FROM, and an ALTER TABLE
    * column rename — so the whole DSv2 DDL/DML surface is graded, not
    * just spec-covered. Returns the fully-qualified SQL name; built
    * once per (session, dir); the catalog is registered idempotently
    * on every call (conf survives, the memo does the data work once).
    */
  private[ext] def sqlCatalogOrders(s: SparkSession, dir: String): String = {
    val tag = IndexCache.scratchTag(s, dir)
    val cat = s"graft_sqlq_$tag"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sql.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.base",
      IndexCache.scratchPath(s, "tx-sql", dir))
    IndexCache.scratch(s, "tx-sql", dir) { base =>
      val src = s"orders_src_$tag"
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .createOrReplaceTempView(src)
      s.sql(s"CREATE TABLE $cat.orders_sql (o_orderkey BIGINT, " +
        "o_orderpriority STRING, o_totalprice DOUBLE) " +
        "PARTITIONED BY (o_orderpriority)")
      s.sql(s"INSERT INTO $cat.orders_sql " +
        s"SELECT o_orderkey, o_orderpriority, o_totalprice FROM $src")
      // atomic slice swap: the urgent partition becomes its even keys
      // at doubled price, every other partition untouched
      s.sql(s"INSERT OVERWRITE $cat.orders_sql " +
        "PARTITION (o_orderpriority = '1-URGENT') " +
        s"SELECT o_orderkey, o_totalprice * 2 FROM $src " +
        "WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0")
      // copy-on-write range delete across all partitions
      s.sql(s"DELETE FROM $cat.orders_sql WHERE o_orderkey <= 1000")
      // metadata-only rename; the read below must speak the new name
      s.sql(s"ALTER TABLE $cat.orders_sql RENAME COLUMN o_totalprice TO price")
      base
    }
    s"$cat.orders_sql"
  }

  /** The SQL-built table aggregated by priority through a `spark.sql`
    * read (the V1Scan shim path): matches the oracle only if every
    * statement committed exactly its slice AND the renamed column
    * reads back the original values.
    */
  def qTxSql(s: SparkSession, dir: String): DataFrame = {
    val name = sqlCatalogOrders(s, dir)
    s.sql(s"SELECT o_orderpriority, COUNT(*) AS n_orders, " +
      "CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
      s"FROM $name GROUP BY o_orderpriority ORDER BY o_orderpriority")
  }

  /** An ACID parts table maintained ENTIRELY through SQL stored
    * procedures (`CALL <cat>.system.<verb>` — the DSv2
    * ProcedureCatalog surface): scoped OPTIMIZE-WHERE, a DELETE undone
    * by `restore`, `zorder`, and a `vacuum` dry run that must predict
    * the real run exactly. Each step's effect is load-bearing in
    * [[qTxCall]]'s oracle row: restore decides which rows exist,
    * zorder's `target_files` pins the live file count, and the
    * dry-run/real-run agreement lands in a graded column. Returns the
    * fully-qualified SQL name; built once per (session, dir).
    */
  private[ext] def callMaintainedParts(s: SparkSession, dir: String): String = {
    val tag = IndexCache.scratchTag(s, dir)
    val cat = s"graft_callq_$tag"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sql.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.base",
      IndexCache.scratchPath(s, "tx-call", dir))
    IndexCache.scratch(s, "tx-call", dir) { base =>
      val src = s"part_src_$tag"
      Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
        .createOrReplaceTempView(src)
      s.sql(s"CREATE TABLE $cat.parts_call (p_partkey BIGINT, " +
        "p_brand STRING, p_retailprice DOUBLE) PARTITIONED BY (p_brand)")
      // two interleaved inserts: >=2 files per brand, so the scoped
      // optimize below has something real to pack
      s.sql(s"INSERT INTO $cat.parts_call SELECT * FROM $src " +
        "WHERE p_partkey % 2 = 1")
      s.sql(s"INSERT INTO $cat.parts_call SELECT * FROM $src " +
        "WHERE p_partkey % 2 = 0")
      // OPTIMIZE scoped to one brand: only its files may rewrite
      s.sql(s"CALL $cat.system.optimize(table => 'parts_call', " +
        "where => 'p_brand = ''Brand#11''')") // v3
      val preDelete = new graft.core.TxTable(s, s"$base/parts_call")
        .detail().version
      // a bad batch job... undone by restore: the low-key rows must be
      // in the final aggregate ONLY because the restore landed
      s.sql(s"DELETE FROM $cat.parts_call WHERE p_partkey <= 500")
      s.sql(s"CALL $cat.system.restore(table => 'parts_call', " +
        s"version => $preDelete)")
      // zorder pins the live layout to exactly 2 files at ANY sf
      s.sql(s"CALL $cat.system.zorder(table => 'parts_call', " +
        "cols => 'p_partkey', target_files => 2)")
      // the dry run must list EXACTLY what the real run then deletes
      val dry = s.sql(s"CALL $cat.system.vacuum(table => 'parts_call', " +
        "older_than_ms => 0, dry_run => true)")
        .collect().map(_.getString(0)).sorted.toSeq
      val real = s.sql(s"CALL $cat.system.vacuum(table => 'parts_call', " +
        "older_than_ms => 0)").collect().map(_.getString(0)).sorted.toSeq
      // graded through the oracle row: store the agreement in the
      // table's own properties (an ACID metadata commit), read back
      // by qTxCall — dry run sound+complete and nothing reclaimable left
      val again = s.sql(s"CALL $cat.system.vacuum(table => 'parts_call', " +
        "older_than_ms => 0, dry_run => true)").count()
      new graft.core.TxTable(s, s"$base/parts_call").setProperty(
        "graft.test.vacuumExact",
        (dry == real && dry.nonEmpty && again == 0L).toString)
      base
    }
    s"$cat.parts_call"
  }

  /** An ACID customers table whose `seg` column carries an ANSI
    * DEFAULT: even-keyed customers insert explicitly (their real
    * segment), odd-keyed customers insert WITHOUT the column — Spark's
    * analyzer substitutes the declared constant from the catalog
    * schema metadata, so the value on disk exists ONLY if the
    * declaration surfaced and resolved. An ALTER ... SET DEFAULT flips
    * the constant mid-stream for a third slice (keys divisible by 9
    * re-inserted after the flip), grading the future-inserts-only
    * semantics. Built once per (session, dir).
    */
  private[ext] def defaultsCustomersTable(s: SparkSession, dir: String): String = {
    val tag = IndexCache.scratchTag(s, dir)
    val cat = s"graft_dfltq_$tag"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sql.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.base",
      IndexCache.scratchPath(s, "tx-defaults", dir))
    IndexCache.scratch(s, "tx-defaults", dir) { base =>
      val src = s"cust_src_$tag"
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .createOrReplaceTempView(src)
      s.sql(s"CREATE TABLE $cat.cust_dflt (c_custkey BIGINT, " +
        "seg STRING DEFAULT 'UNSEGMENTED', c_acctbal DOUBLE)")
      s.sql(s"INSERT INTO $cat.cust_dflt " +
        s"SELECT c_custkey, c_mktsegment, c_acctbal FROM $src " +
        "WHERE c_custkey % 2 = 0")
      // column-list INSERT omits seg -> the declared default lands
      s.sql(s"INSERT INTO $cat.cust_dflt (c_custkey, c_acctbal) " +
        s"SELECT c_custkey, c_acctbal FROM $src " +
        "WHERE c_custkey % 2 = 1 AND c_custkey % 9 <> 0")
      // flip the default, then insert the remaining slice: ONLY these
      // rows may carry the new constant (future-inserts-only)
      s.sql(s"ALTER TABLE $cat.cust_dflt ALTER COLUMN seg SET DEFAULT 'LATE'")
      s.sql(s"INSERT INTO $cat.cust_dflt (c_custkey, c_acctbal) " +
        s"SELECT c_custkey, c_acctbal FROM $src " +
        "WHERE c_custkey % 2 = 1 AND c_custkey % 9 = 0")
      base
    }
    s"$cat.cust_dflt"
  }

  /** The defaults table aggregated by segment: hash-matches only if
    * the omitted-column inserts landed each declaration's constant —
    * the first default for the odd non-%9 slice, the flipped one for
    * the %9 slice, real segments for the explicit even slice.
    */
  def qTxDefaults(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val name = defaultsCustomersTable(s, dir)
    s.sql(s"SELECT seg, COUNT(*) AS n_cust, " +
      "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance " +
      s"FROM $name GROUP BY seg ORDER BY seg")
  }

  /** The CALL-maintained table aggregated by brand, with the
    * maintenance outcomes as graded columns: `n_parts`/`revenue` match
    * only if the restore undid the delete exactly, `live_files` (2)
    * only if zorder honored `target_files` and vacuum kept every live
    * file, and `vacuum_exact` only if the dry run predicted the real
    * deletion set verbatim and left nothing behind.
    */
  def qTxCall(s: SparkSession, dir: String): DataFrame = {
    val name = callMaintainedParts(s, dir)
    val basePath = s.conf.get(
      s"spark.sql.catalog.${name.split('.').head}.base")
    val t = new graft.core.TxTable(s, s"$basePath/parts_call")
    val files = t.detail().numFiles.toLong
    val agree = t.properties.getOrElse("graft.test.vacuumExact", "false")
    s.sql(s"SELECT p_brand, COUNT(*) AS n_parts, " +
      "CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
      s"CAST($files AS BIGINT) AS live_files, " +
      s"CAST('$agree' AS STRING) AS vacuum_exact " +
      s"FROM $name GROUP BY p_brand ORDER BY p_brand")
  }

  /** ACID clone of orders exercising OPT-IN TYPE WIDENING
    * ([[graft.core.TxTable.TypeWideningProp]]): batch 1 writes `units`
    * INT + `score` FLOAT; with the property set, batch 2 arrives LONG
    * (values past Int.MaxValue, so the widened slot is load-bearing)
    * + DOUBLE and the committed schema widens in place — the
    * already-written narrow files must read back under the wider
    * schema; batch 3 arrives narrow again and upcasts on write. Built
    * once per (session, dir).
    */
  private[ext] def widenedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-widen", dir) { t =>
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .withColumn("units", col("o_orderkey") % 1000)
        .withColumn("score", col("o_orderkey") % 7)
      t.append(base.where(col("o_orderkey") % 3 === 0)
        .withColumn("units", col("units").cast("int"))
        .withColumn("score", col("score").cast("float")))
      t.setProperty(graft.core.TxTable.TypeWideningProp, "true")
      t.append(base.where(col("o_orderkey") % 3 === 1)
        .withColumn("units", col("units") + lit(4000000000L))
        .withColumn("score", col("score").cast("double") * lit(1.5d)))
      t.append(base.where(col("o_orderkey") % 3 === 2)
        .withColumn("units", col("units").cast("int"))
        .withColumn("score", col("score").cast("float")))
    }

  /** The widened table aggregated by priority (count, the long-range
    * `units` sum, the float→double `score` sum, revenue): matches the
    * oracle's flat reconstruction only if all three batches landed and
    * the narrow files read EXACTLY under the widened schema (all
    * `score` inputs are small multiples of 0.5, so the double sums are
    * FP-exact and order-independent).
    */
  def qTxWiden(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    widenedOrdersTable(s, dir).read()
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("units")).as("units"),
        sum(col("score")).as("score"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Key-clustered ACID clone of orders with the January-1996 window
    * DELETED (copy-on-write: manifest stats keep non-overlapping files
    * from even being scanned; only files actually containing matches
    * rewrite), built once per (session, dir).
    */
  private[ext] def deletedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-delete", dir) { t =>
      t.append(Tables.load(s, dir, "orders")
        .select(datekey.as("o_datekey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(16, col("o_datekey"))
        .sortWithinPartitions("o_datekey"))
      t.delete(col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi)
    }

  /** The post-DELETE table aggregated by priority: matches the
    * oracle's `WHERE NOT window` reconstruction only if delete removed
    * exactly the predicate-true rows and nothing else.
    */
  def qTxDelete(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(deletedOrdersTable(s, dir).read())

  /** Key-clustered ACID clone of orders with a BULK KEY-SET delete
    * ([[graft.core.TxTable.deleteKeys]]): the dead set (one key in
    * seven) is a DataFrame derived from the table itself and never
    * collected — the GDPR-/CDC-scale deletion path, applied as
    * distributed joins. Built once per (session, dir).
    */
  private[ext] def delKeysOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-delkeys", dir) { t =>
      t.append(Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      val dead = t.read().select(col("o_orderkey"))
        .where(col("o_orderkey") % 7 === 3)
      t.deleteKeys(dead, Seq("o_orderkey"))
    }

  /** The post-deleteKeys table aggregated by priority: matches the
    * oracle's modular-complement reconstruction only if the key-set
    * delete removed exactly the listed keys and nothing else.
    */
  def qTxDelKeys(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(delKeysOrdersTable(s, dir).read())

  /** Key-clustered ACID clone of orders with one key in five deleted
    * MERGE-ON-READ ([[graft.core.TxTable.deleteMergeOnRead]]): the
    * delete touches every file, so copy-on-write would rewrite the
    * whole table — instead each file gets a deletion-vector sidecar
    * (O(deleted rows) written, zero data bytes moved) and readers
    * reconstruct survivors through the positional anti-join. Built
    * once per (session, dir); the builder asserts the no-rewrite
    * invariant, so the query fails loudly if the physical story ever
    * regresses to a rewrite.
    */
  private[ext] def dvDeletedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-dv", dir) { t =>
      t.append(Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      val before = t.state().files.toSet
      t.deleteMergeOnRead(col("o_orderkey") % 5 === 1)
      val st = t.state()
      require(st.files.toSet == before && st.dvs.keySet == before,
        s"expected a pure merge-on-read delete (every file masked, none " +
          s"rewritten); got files=${st.files.size}, masked=${st.dvs.size}")
    }

  /** The masked table aggregated by priority: matches the oracle's
    * `WHERE key % 5 <> 1` reconstruction only if the vectors mask
    * exactly the deleted positions — and the builder proves no file
    * was rewritten to get there.
    */
  def qTxDv(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(dvDeletedOrdersTable(s, dir).read())

  /** Key-clustered ACID clone of orders with one key in five updated
    * MERGE-ON-READ ([[graft.core.TxTable.updateMergeOnRead]]): the
    * update touches every file, so copy-on-write would rewrite the
    * whole table — instead old versions are masked by per-file
    * deletion vectors and the updated rows APPEND as new files
    * (O(updated rows) moved, zero original bytes rewritten; the
    * builder asserts that invariant and fails loudly on regression).
    * The SET doubles the price (binary-exact, cross-engine safe) and
    * rewrites the group key, so the aggregate below detects both a
    * lost post-image and a leaked pre-image. Built once per
    * (session, dir).
    */
  private[ext] def dvUpdatedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-dvupd", dir) { t =>
      t.append(Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      val before = t.state().files.toSet
      t.updateMergeOnRead(col("o_orderkey") % 5 === 1,
        Map("o_totalprice" -> (col("o_totalprice") * lit(2)),
          "o_orderpriority" -> concat(lit("U-"), col("o_orderpriority"))))
      val st = t.state()
      require(before.subsetOf(st.files.toSet) && st.dvs.keySet == before &&
        (st.files.toSet -- before).nonEmpty,
        s"expected a pure merge-on-read update (every original file masked " +
          s"and kept, updated rows appended); got files=${st.files.size}, " +
          s"masked=${st.dvs.size}")
    }

  /** The DV-updated table aggregated by priority: matches the oracle's
    * CASE-reconstruction only if the vectors mask exactly the old
    * versions AND the appended post-images carry the updated values —
    * and the builder proves zero original data files were rewritten.
    */
  def qTxDvUpdate(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(dvUpdatedOrdersTable(s, dir).read())

  /** Snapshot-isolation TIME TRAVEL through the batch read path of the
    * `graft-txtable` format: version 0 of [[mergedOrdersTable]] is the
    * pre-merge base, so this aggregate matches the plain-orders oracle
    * ONLY if the version pin really isolates the snapshot from the
    * later MERGE commit — while [[qTxMerge]] oracles the same table's
    * HEAD against the post-merge reconstruction. Metadata-only: the
    * pinned file list resolves to a plain parquet relation, so
    * pushdown/pruning are unchanged and no data is copied.
    */
  def qTxTimetravel(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(s.read.format("graft-txtable")
      .option("path", mergedOrdersTable(s, dir).tablePath)
      .option("versionAsOf", "0").load())

  /** Key-clustered ACID clone of orders destructively OVERWRITTEN down
    * to the keys divisible by 3, then RESTOREd to version 0 — the
    * rollback re-points the base snapshot's files in one metadata
    * commit (no data copied; on a 100 TB table an O(files) log write),
    * built once per (session, dir).
    */
  private[ext] def restoredOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-restore", dir) { t =>
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      t.append(base.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")) // v0
      t.overwrite(base.where(col("o_orderkey") % 3 === 0)) // v1: shrunk
      t.restore(0L) // v2: metadata-only rollback to the full base
    }

  /** The post-RESTORE table aggregated by priority: matches the full
    * plain-orders oracle ONLY if restore re-pointed exactly the v0
    * file set — a leftover of the overwrite (or a partial rollback)
    * changes the counts and hash-mismatches.
    */
  def qTxRestore(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(restoredOrdersTable(s, dir).read())

  /** Key-clustered ACID clone of orders with a deterministic UPDATE
    * applied — keys divisible by 7 get a sentinel priority and a fixed
    * price surcharge, both assignments in one statement evaluated
    * against the pre-update row ([[graft.core.TxTable.update]]).
    * Copy-on-write: only files whose key range holds a matching key
    * rewrite. Built once per (session, dir).
    */
  private[ext] def updatedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-update", dir) { t =>
      t.append(Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      t.update(col("o_orderkey") % 7 === 0, Map(
        "o_orderpriority" -> lit("9-UPDATED"),
        "o_totalprice" -> (col("o_totalprice") + lit(5000.0d))))
    }

  /** The post-UPDATE table aggregated by priority: matches the
    * oracle's CASE-expression reconstruction only if update rewrote
    * exactly the predicate-true rows with the assigned values and left
    * every other row byte-identical.
    */
  def qTxUpdate(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(updatedOrdersTable(s, dir).read())

  /** ACID orders clone Z-ORDER clustered on (datekey, orderkey) —
    * [[graft.core.TxTable.cluster]], the OPTIMIZE ZORDER role — built
    * once per (session, dir). The builder asserts BOTH single-column
    * probes actually skip files post-clustering: the point of
    * interleaved ordering over lexicographic is that EITHER dimension
    * prunes, not just the leading one.
    */
  private[ext] def zorderOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-zorder", dir) { t =>
      t.append(Tables.load(s, dir, "orders")
        .select(datekey.as("o_datekey"), col("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice")))
      t.cluster(Seq("o_datekey", "o_orderkey"), targetFiles = 16, bitsPerCol = 8)
      val st = t.state()
      val n = st.files.size
      val byDate = t.prunedFiles(st,
        col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi)
      val maxKey = Tables.load(s, dir, "orders")
        .agg(max(col("o_orderkey"))).head.getLong(0)
      val byKey = t.prunedFiles(st,
        col("o_orderkey") <= maxKey / 16L)
      require(byDate.size < n && byKey.size < n,
        s"z-order must prune on BOTH dimensions, got date ${byDate.size}/$n, " +
          s"key ${byKey.size}/$n")
    }

  /** The time-window aggregate through the Z-ORDERED layout: same
    * oracle as the flat/range-clustered twins — clustering changes
    * the FILE SET a probe opens (builder-asserted on both dimensions),
    * never the answer.
    */
  def qTxZorder(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(zorderOrdersTable(s, dir)
      .scan(col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi))

  /** A REPLICA of a mutated ACID table maintained ONLY through its
    * change feed ([[graft.streaming.CdcApply]]): the source clone
    * takes an update + a delete + a merge in separate commits, and
    * the replica applies the feed in two slices (so one slice spans
    * multiple commits and the net-effect ranking is exercised).
    * Built once per (session, dir).
    */
  private[ext] def replicaOrdersTable(s: SparkSession, dir: String): graft.core.TxTable = {
    val path = IndexCache.scratch(s, "tx-replica", dir) { p =>
      val src = new graft.core.TxTable(s, s"$p/src")
      val dst = new graft.core.TxTable(s, s"$p/dst")
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      src.append(base.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
      // slice 1: the full initial load
      var cursor = src.version
      graft.streaming.CdcApply(dst, src.readChangeFeed(-1L, cursor), Seq("o_orderkey"))
      // slice 2 spans three mutating commits
      src.update(col("o_orderkey") % 7 === 0, Map(
        "o_orderpriority" -> lit("9-UPDATED"),
        "o_totalprice" -> (col("o_totalprice") + lit(5000.0d))))
      src.delete(col("o_orderkey") % 5 === 1)
      val mx = base.agg(max(col("o_orderkey"))).head.getLong(0)
      src.merge(base.where(col("o_orderkey") % 1000 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + mx + 1L), Seq("o_orderkey"))
      graft.streaming.CdcApply(dst,
        src.readChangeFeed(cursor, src.version), Seq("o_orderkey"))
      dst.tablePath
    }
    new graft.core.TxTable(s, path)
  }

  /** The REPLICA aggregated by priority, against an oracle that
    * reconstructs the SOURCE's final state from scratch: the hash
    * matches only if feed production AND net-effect application are
    * both lossless — the full CDC round trip, graded end-to-end.
    */
  def qTxReplica(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(replicaOrdersTable(s, dir).read())

  /** Untimed prewarm for the CHAIN-BUILT fixtures (CDC replica ~6
    * commits + 2 feed applications, IVM view ~2 chunked advances):
    * their construction is per-process fixture setup — the graded
    * artifact of `q_tx_replica` / `q_tx_ivm_view` is the READ — so
    * benchmarks call this outside the measured window to keep run1 of
    * a cold process comparable to steady state. Queries stay
    * self-sufficient: each still builds its fixture on first touch if
    * nothing prewarmed.
    */
  def prewarmChainFixtures(s: SparkSession, dir: String): Unit = {
    replicaOrdersTable(s, dir)
    ivmViewTable(s, dir)
  }

  /** Table PROFILING — the Deequ/dbt-test-style quality audit: every
    * column's null count, distinct count and min/max (value for
    * numerics, length for strings) in ONE aggregate pass over the
    * corpus, unpivoted to long form (column, metric, value). The
    * multi-count-distinct expands map-side (Spark's Expand), so the
    * pass stays one scan + one aggregate exchange; at 100 TB swap the
    * exact distincts for HLL sketches ([[qApproxStats]]) — the shape
    * is otherwise identical. All metrics are integers: engine-exact.
    */
  /** The DATA CARD — the per-source "datasheet for datasets" a corpus
    * publisher ships (doc counts, byte/token mass, language spread,
    * exact-dup mass), plus the corpus-total row, in ONE rollup
    * aggregate over one map pass: tokens/bytes/fingerprints are
    * map-side expressions, `rollup(source)` folds the per-source and
    * total rows in the same exchange, and the two count-distincts
    * expand map-side (Spark's Expand — same one-scan shape as
    * [[qProfile]]; at 100 TB swap them for HLL sketches, shape
    * unchanged). Every metric is an integer: engine-exact.
    */
  def qDataCard(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select(
      col("source"), col("lang"),
      size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      graft.ext.TextAnalysis.contentFingerprint(col("text")).as("fp"))
    d.rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("sum_bytes"),
        sum(col("n_tokens")).as("sum_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_docs"))
      .select(coalesce(col("source"), lit("_total")).as("source"),
        col("n_docs"), col("sum_bytes"), col("sum_tokens"),
        col("n_langs"), col("n_dup_docs"))
      .orderBy(col("source"))
  }

  def qProfile(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")
    def dist(c: String) = countDistinct(col(c)).as(s"${c}_distinct")
    val strCols = Seq("text", "lang", "source")
    val numCols = Seq("doc_id", "n_chars")
    val aggs =
      Seq(count(lit(1)).as("n_rows")) ++
        (strCols ++ numCols).flatMap(c => Seq(nulls(c), dist(c))) ++
        strCols.flatMap(c => Seq(
          min(length(col(c)).cast("long")).as(s"${c}_min"),
          max(length(col(c)).cast("long")).as(s"${c}_max"))) ++
        numCols.flatMap(c => Seq(
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    val one = d.agg(aggs.head, aggs.tail: _*)
    val entries = Seq(("_table", "n_rows", "n_rows")) ++
      (strCols ++ numCols).flatMap(c => Seq(
        (c, "n_nulls", s"${c}_nulls"), (c, "n_distinct", s"${c}_distinct"))) ++
      strCols.flatMap(c => Seq(
        (c, "min_len", s"${c}_min"), (c, "max_len", s"${c}_max"))) ++
      numCols.flatMap(c => Seq(
        (c, "min", s"${c}_min"), (c, "max", s"${c}_max")))
    val stackArgs = entries
      .map { case (c, m, f) => s"'$c', '$m', `$f`" }.mkString(", ")
    one.selectExpr(
        s"stack(${entries.size}, $stackArgs) as (column_name, metric, value)")
      .orderBy(col("column_name"), col("metric"))
  }

  /** ACID orders clone whose epoch-day key is a GENERATED column
    * ([[graft.core.TxTable.addGeneratedColumn]]) the writer NEVER
    * supplies: appends carry only (o_orderdate, priority, price) and
    * the log's declaration computes `o_datekey` at write time — the
    * published use generated columns exist for (derive the
    * cluster/partition key once, centrally, instead of in every
    * producer). Built once per (session, dir); the builder asserts
    * the generation actually happened (no nulls) and that a WRONG
    * supplied value is rejected.
    */
  private[ext] def genColOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-gencol", dir) { t =>
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderdate"), col("o_orderpriority"), col("o_totalprice"))
      // seed row establishes the schema, then the declaration
      t.append(base.limit(0))
      t.addGeneratedColumn("o_datekey",
        "CAST(floor(unix_timestamp(o_orderdate) / 86400) AS BIGINT)")
      t.append(base.repartitionByRange(16, datekey).sortWithinPartitions(datekey))
      require(t.read().where(col("o_datekey").isNull).limit(1).count() == 0,
        "generated datekey must compute for every appended row")
      // a mismatched supplied value must be rejected (the gate)
      val bad = scala.util.Try(t.append(base.limit(1)
        .withColumn("o_datekey", lit(-1L))))
      require(bad.isFailure, "wrong supplied generated value must abort")
    }

  /** The time-window aggregate where the probe column EXISTS ONLY
    * because the log computed it: matches the oracle's from-scratch
    * derivation only if generation is value-exact, and the builder's
    * rejected-mismatch probe proves the gate is live. The range skip
    * prunes on the generated column's stats like any other.
    */
  def qTxGencol(s: SparkSession, dir: String): DataFrame = {
    val t = genColOrdersTable(s, dir)
    txWindowAgg(t.scan(col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi))
  }

  /** ACID orders clone whose columns are RENAMED twice metadata-only
    * ([[graft.core.TxTable.renameColumn]] — the column-mapping
    * design: data files keep their immutable physical names, the log
    * maps surface names), built once per (session, dir). The builder
    * asserts zero data files changed across both renames — an O(1)
    * schema change where a rewrite would be O(table).
    */
  private[ext] def renamedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-rename", dir) { t =>
      t.append(Tables.load(s, dir, "orders")
        .select(datekey.as("o_datekey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(16, col("o_datekey"))
        .sortWithinPartitions("o_datekey"))
      val before = t.state().files.toSet
      t.renameColumn("o_orderpriority", "priority")
      t.renameColumn("o_totalprice", "revenue_amount")
      require(t.state().files.toSet == before,
        "metadata-only rename must not touch data files")
    }

  /** The time-window aggregate through [[renamedOrdersTable]]'s NEW
    * surface names, with the manifest-stat skip still keyed by the
    * immutable physical names underneath: matches the plain-orders
    * oracle only if the mapping projects values losslessly and the
    * renamed-column predicate still prunes to the same file set.
    */
  def qTxRename(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t = renamedOrdersTable(s, dir)
    val kept = t.prunedFiles(t.state(),
      col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi)
    require(kept.size < t.state().files.size,
      "range skip must survive the rename")
    t.scan(col("o_datekey") >= TxSkipLo && col("o_datekey") <= TxSkipHi)
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("revenue_amount").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("priority"))
  }

  /** Grouped z-score OUTLIER DETECTION — the monitoring/data-quality
    * primitive: per event type, mean and variance from ONE aggregate
    * pass (decimal sums of the exactly-representable value and value²,
    * so partial-aggregate order cannot perturb them), then each row's
    * z = (x − μ)/σ flagged at |z| > 3. Every post-aggregate scalar op
    * is a single IEEE double op on identical inputs — engine-exact
    * without quantization (the testdata's values are 2-decimal, so
    * their squares are exact 4-decimal rationals and both casts are
    * unambiguous; document columns with full-precision doubles would
    * quantize z like [[graft.functions.QuantizedCosine]] instead).
    * Scale shape: one agg shuffle; the O(groups) stats table
    * broadcasts back onto the scan; output sort.
    */
  def qAnomaly(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"),
        sum((col("value") * col("value")).cast(DecimalType(24, 4))).as("sv2"))
      .select(col("event_type"),
        (col("sv").cast("double") / col("n").cast("double")).as("mean"),
        (col("sv2").cast("double") / col("n").cast("double")).as("ex2"))
      .select(col("event_type"), col("mean"),
        sqrt(col("ex2") - col("mean") * col("mean")).as("std"))
    e.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("value") - col("mean")) / col("std")).as("z"))
      .where(col("z") > lit(3.0d) || col("z") < lit(-3.0d))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** ACID orders clone deliberately fragmented into many SMALL files
    * (four appends × 12-way repartition — the streaming-ingest
    * pathology) then COMPACTED ([[graft.core.TxTable.compact]]) down
    * to a handful, built once per (session, dir). The builder asserts
    * the file count actually collapsed and that the compaction commit
    * carries the rewrite marker (invisible to incremental consumers),
    * so the query fails loudly if the maintenance op ever stops
    * compacting.
    */
  private[ext] def compactedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-compact", dir) { t =>
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      (0 until 4).foreach { i =>
        t.append(base.where(col("o_orderkey") % 4 === i).repartition(12))
      }
      val before = t.state().files.size
      t.compact(targetBytes = 64L << 20)
      val st = t.state()
      require(st.files.size < before / 4,
        s"compaction left ${st.files.size} of $before files")
      require(t.history().exists(_.operation == "REWRITE"),
        "compaction commit lost its rewrite marker")
    }

  /** The post-COMPACTION table against the UNMODIFIED full-table
    * oracle: the maintenance op must change the file layout and
    * nothing else — same philosophy as q_salted_agg (the optimization
    * provably changes no answer), here for the ACID rewrite path.
    */
  def qTxCompact(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(compactedOrdersTable(s, dir).read())

  /** The row-level CHANGE FEED of the UPDATE commit — versions (0, 1]
    * of [[updatedOrdersTable]] through
    * [[graft.core.TxTable.readChangeFeed]] — aggregated per change
    * type and priority. Matches the oracle's pre/post-image
    * reconstruction only if the feed carries exactly one
    * `update_preimage` per matched row with the ORIGINAL values and
    * one `update_postimage` with the assigned values, and nothing for
    * untouched rows — the contract a downstream CDC consumer
    * (an incremental gold table, a cache invalidator) depends on.
    * Scale shape: the feed reads ONLY the change files the update
    * staged (O(changed rows)), never the table; one aggregate shuffle.
    */
  def qTxCdf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    updatedOrdersTable(s, dir).readChangeFeed(0L, 1L)
      .groupBy(col("_change_type"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("_change_type"), col("o_orderpriority"))
  }

  /** INCREMENTAL VIEW MAINTENANCE from the change feed: the priority
    * revenue aggregate rebuilt purely by signed-folding every change
    * record of the merged table's whole history (insert /
    * update_postimage add, update_preimage / delete subtract) —
    * never reading the table state itself. Hash-matches the same
    * merged-state oracle as `q_tx_merge` ONLY if the feed is complete
    * and inverse-consistent: one missing, duplicated, or mis-signed
    * change record moves the sums. The scale contract this grades: a
    * downstream aggregate advances from O(changed rows) per commit
    * instead of O(table) recomputes — the CDF-consumer economics that
    * make a 100 TB gold layer maintainable.
    */
  def qTxIvm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t = mergedOrdersTable(s, dir)
    val ch = t.readChangeFeed(-1L, t.version)
    val sign = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    ch.groupBy(col("o_orderpriority"))
      .agg(sum(sign).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)) *
          sign.cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** A REAL maintained view of the merged table: priority-keyed
    * COUNT/SUM kept in sync by [[graft.core.IvmAgg]], advanced in TWO
    * bounded steps (the base append's window, then the merge commit's)
    * so the graded read exercises genuine incremental maintenance —
    * cursor and delta in one atomic commit per step. Built once per
    * (session, dir).
    */
  private[ext] def ivmViewTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-ivmview", dir) { v =>
      val src = mergedOrdersTable(s, dir)
      graft.core.IvmAgg.advance(src, v, Seq("o_orderpriority"),
        Seq("o_totalprice"), upTo = Some(0L))
      graft.core.IvmAgg.advance(src, v, Seq("o_orderpriority"), Seq("o_totalprice"))
    }

  /** The maintained view READ BACK: matches the merged-state oracle
    * only if both chunked advances were exactly-once and complete —
    * the materialized-rollup economics (O(changed rows) per commit)
    * graded end-to-end.
    */
  def qTxIvmView(s: SparkSession, dir: String): DataFrame =
    ivmViewTable(s, dir).read()
      .select(col("o_orderpriority"), col("n_rows").as("n_orders"),
        col("sum_o_totalprice").cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))

  /** A maintained MIN/MAX view whose advance CROSSES a retracting
    * commit (the merge's update preimages) under
    * `onRetract = "recompute"` — the graded read proves the
    * affected-groups-only repair produces exactly the extrema a full
    * recompute would: the update bumps some keys' prices, so a
    * group's pre-update max may have been retracted and the folded
    * `greatest` alone would overstate it.
    */
  private[ext] def ivmMinMaxViewTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-ivmminmax", dir) { v =>
      val src = mergedOrdersTable(s, dir)
      graft.core.IvmAgg.advance(src, v, Seq("o_orderpriority"),
        Seq("o_totalprice"), cursorId = "ivm-minmax", upTo = Some(0L),
        maxs = Seq("o_totalprice"), mins = Seq("o_totalprice"))
      graft.core.IvmAgg.advance(src, v, Seq("o_orderpriority"),
        Seq("o_totalprice"), cursorId = "ivm-minmax",
        maxs = Seq("o_totalprice"), mins = Seq("o_totalprice"),
        onRetract = "recompute")
    }

  def qTxIvmMinmax(s: SparkSession, dir: String): DataFrame =
    ivmMinMaxViewTable(s, dir).read()
      .select(col("o_orderpriority"), col("n_rows").as("n_orders"),
        col("max_o_totalprice").cast("double").as("max_price"),
        col("min_o_totalprice").cast("double").as("min_price"))
      .orderBy(col("o_orderpriority"))

  /** AVG off the SAME maintained view — the (sum, non-null count)
    * pair [[graft.core.IvmAgg]] stores makes AVG self-maintainable
    * with zero extra state.
    */
  def qTxIvmAvg(s: SparkSession, dir: String): DataFrame = {
    // double division over the exact decimal sum and non-null count —
    // engine-portable (decimal division scale rules differ per engine,
    // IEEE double division does not), NULL when no non-null value
    val v = ivmViewTable(s, dir).read()
    v.select(col("o_orderpriority"), col("n_rows").as("n_orders"),
      when(col("nn_o_totalprice") === 0L, lit(null).cast("double"))
        .otherwise(col("sum_o_totalprice").cast("double") /
          col("nn_o_totalprice")).as("avg_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** ACID orders clone scattered by HASH of the key across 16 files
    * (each file's [min, max] key range spans nearly the whole domain,
    * so manifest min/max stats prune NOTHING for a point lookup) with
    * a BLOOM FILTER INDEX on the key
    * ([[graft.core.TxTable.addBloomIndex]]) — built once per
    * (session, dir). The builder asserts the bloom stage actually
    * prunes a probe to a minority of files, so the query fails loudly
    * if the index ever silently stops skipping.
    */
  private[ext] def bloomOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-bloom", dir) { t =>
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      t.append(base.repartition(16, col("o_orderkey")))
      t.addBloomIndex("o_orderkey",
        expectedItems = math.max(1L, base.count() / 8), fpp = 0.01)
      val probe = col("o_orderkey") === base
        .agg(min(col("o_orderkey"))).head.getLong(0)
      val kept = t.prunedFiles(t.state(), probe).size
      val total = t.state().files.size
      require(kept * 2 < total,
        s"bloom index stopped pruning: point probe kept $kept of $total files")
    }

  /** Needle-in-haystack point lookups through the bloom-indexed scan:
    * five deterministic keys fetched via `isin` — at 100 TB the
    * difference between opening ~fpp × files and opening every file of
    * a table clustered by something other than the probe key. Matches
    * the oracle's plain IN reconstruction ONLY if bloom pruning never
    * drops a file that held a matching row (the no-false-negative
    * soundness contract).
    */
  def qTxBloom(s: SparkSession, dir: String): DataFrame = {
    val t = bloomOrdersTable(s, dir)
    // the same 5 keys the oracle SQL selects — a bounded driver-side
    // collect (5 rows), not a data-scale operation
    val keys = Tables.load(s, dir, "orders")
      .where(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .limit(5).collect().map(_.getLong(0)).toSeq
    t.scan(col("o_orderkey").isin(keys: _*))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Priority-partitioned ACID clone of orders with ONE partition
    * slice atomically swapped by [[graft.core.TxTable.replaceWhere]]
    * (the idempotent-backfill idiom: recompute a slice, swap it in,
    * readers never see a torn table). The value-pure partitioned
    * layout makes the swap exact: the builder asserts the other
    * priorities' files survived BY NAME — replaceWhere rewrote only
    * the slice it replaced, the property that keeps a one-partition
    * backfill O(partition), not O(table), at 100 TB. Built once per
    * (session, dir).
    */
  private[ext] def replacedOrdersTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-replace", dir) { t =>
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      t.append(base, partitionBy = Seq("o_orderpriority"))
      val before = t.state().files.toSet
      // the recomputed slice: same keys, price restated (+2500.0 —
      // IEEE-deterministic double addition, the q_tx_update convention)
      val slice = base.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_totalprice") + 2500.0).as("o_totalprice"))
      t.replaceWhere(col("o_orderpriority") === "1-URGENT", slice)
      val after = t.state().files.toSet
      val removed = before -- after
      require(removed.size == 1 && (before & after).size == before.size - 1,
        s"replaceWhere should swap exactly the 1-URGENT file: " +
          s"removed ${removed.size} of ${before.size}")
    }

  /** The post-swap table aggregated by priority: matches the oracle's
    * CASE-projection reconstruction ONLY if replaceWhere deleted
    * exactly the predicate slice and inserted exactly its replacement,
    * leaving every other row byte-identical.
    */
  def qTxReplace(s: SparkSession, dir: String): DataFrame =
    txWindowAgg(replacedOrdersTable(s, dir).read())

  /** SCD TYPE 2 customer dimension
    * ([[graft.core.TxTable.mergeScd2]]), three change epochs applied
    * once per (session, dir):
    *   - epoch 1: full load of (custkey, mktsegment, acctbal);
    *   - epoch 2: keys %10==0 arrive with acctbal+100 (close + insert);
    *   - epoch 3: the SAME %10 source slice, but only keys %20==0
    *     changed again (acctbal+250 vs base) — the %10-not-%20 rows are
    *     byte-identical to their current rows and must be NO-OPS.
    * Final history per key: %20==0 → two closed rows + current(+250);
    * %10-not-%20 → one closed row + current(+100); else → the epoch-1
    * row still current. The query aggregates current and closed rows
    * separately plus the validity epochs, so the oracle reconstruction
    * catches a wrong close, a missed no-op, or a mis-stamped interval.
    */
  private[ext] def scd2CustomerTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-scd2", dir) { t =>
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      t.mergeScd2(base.repartitionByRange(8, col("c_custkey"))
        .sortWithinPartitions("c_custkey"), Seq("c_custkey"), 1L)
      t.mergeScd2(base.where(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + lit(100.0d)),
        Seq("c_custkey"), 2L)
      t.mergeScd2(base.where(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") +
          when(col("c_custkey") % 20 === 0, lit(250.0d)).otherwise(lit(100.0d))),
        Seq("c_custkey"), 3L)
    }

  /** The SCD2 dimension EVOLVED mid-history: epoch 4's reload carries
    * a brand-new `c_tier` column under `evolveSchema = true` — every
    * key it covers closes (NULL → non-null tier is a change by
    * definition) and reinserts with the tier; history rows read tier
    * NULL. Graded against a from-first-principles SQL reconstruction
    * of all four epochs — the warehouse-dimension version of the
    * upstream-added-a-column case.
    */
  private[ext] def scd2EvolvedCustomerTable(s: SparkSession, dir: String): graft.core.TxTable =
    txFixture(s, "tx-scd2evo", dir) { t =>
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      t.mergeScd2(base.repartitionByRange(8, col("c_custkey"))
        .sortWithinPartitions("c_custkey"), Seq("c_custkey"), 1L)
      t.mergeScd2(base.where(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + lit(100.0d)),
        Seq("c_custkey"), 2L)
      t.mergeScd2(base.where(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") +
          when(col("c_custkey") % 20 === 0, lit(250.0d)).otherwise(lit(100.0d))),
        Seq("c_custkey"), 3L)
      // epoch 4: same balances as the current state, plus the NEW
      // tier column — only the tier transition closes rows
      t.mergeScd2(base.where(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") +
          when(col("c_custkey") % 20 === 0, lit(250.0d)).otherwise(lit(100.0d)))
        .withColumn("c_tier",
          when(col("c_custkey") % 20 === 0, lit("gold")).otherwise(lit("silver"))),
        Seq("c_custkey"), 4L, evolveSchema = true)
    }

  def qTxScd2Evolve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toCol = col(graft.core.TxTable.ScdToCol)
    val fromCol = col(graft.core.TxTable.ScdFromCol)
    def dsum(c: Column): Column =
      coalesce(sum(c.cast(DecimalType(18, 2))).cast("double"), lit(0.0d))
    scd2EvolvedCustomerTable(s, dir).read()
      .groupBy(col("c_mktsegment"))
      .agg(
        count(when(toCol.isNull, lit(1))).as("n_current"),
        count(when(toCol.isNotNull, lit(1))).as("n_closed"),
        count(when(toCol.isNull && col("c_tier") === "gold", lit(1))).as("n_gold"),
        count(when(toCol.isNull && col("c_tier") === "silver", lit(1))).as("n_silver"),
        count(when(col("c_tier").isNotNull && toCol.isNotNull, lit(1))).as("n_closed_tiered"),
        dsum(when(toCol.isNull, col("c_acctbal"))).as("cur_bal"),
        sum(when(toCol.isNull, fromCol)).cast("long").as("from_sum"))
      .orderBy(col("c_mktsegment"))
  }

  /** Per-segment summary of the SCD2 dimension: current and closed row
    * counts, their balance sums, and the sum of current validity
    * epochs. Matches the oracle's from-first-principles reconstruction
    * ONLY if every close, insert, no-op and epoch stamp was exact.
    */
  def qTxScd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toCol = col(graft.core.TxTable.ScdToCol)
    val fromCol = col(graft.core.TxTable.ScdFromCol)
    def dsum(c: Column): Column =
      coalesce(sum(c.cast(DecimalType(18, 2))).cast("double"), lit(0.0d))
    scd2CustomerTable(s, dir).read()
      .groupBy(col("c_mktsegment"))
      .agg(
        count(when(toCol.isNull, lit(1))).as("n_current"),
        count(when(toCol.isNotNull, lit(1))).as("n_closed"),
        dsum(when(toCol.isNull, col("c_acctbal"))).as("cur_bal"),
        dsum(when(toCol.isNotNull, col("c_acctbal"))).as("closed_bal"),
        sum(when(toCol.isNull, fromCol)).cast("long").as("from_sum"))
      .orderBy(col("c_mktsegment"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_approx_stats" -> (qApproxStats _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_salted_agg" -> (qSaltedAgg _),
    "q_bloom_new_docs" -> (qBloomNewDocs _),
    "q_open_intervals" -> (qOpenIntervals _),
    "q_join_flat" -> (qJoinFlat _),
    "q_join_bucketed" -> (qJoinBucketed _),
    "q_tx_flat" -> (qTxFlat _),
    "q_tx_skip" -> (qTxSkip _),
    "q_tx_skip_or" -> (qTxSkipOr _),
    "q_tx_compact_where" -> (qTxCompactWhere _),
    "q_tx_clone" -> (qTxClone _),
    "q_tx_merge" -> (qTxMerge _),
    "q_tx_merge_cond" -> (qTxMergeCond _),
    "q_tx_dynpart" -> (qTxDynpart _),
    "q_tx_sql" -> (qTxSql _),
    "q_tx_call" -> (qTxCall _),
    "q_tx_defaults" -> (qTxDefaults _),
    "q_tx_widen" -> (qTxWiden _),
    "q_tx_delete" -> (qTxDelete _),
    "q_tx_delkeys" -> (qTxDelKeys _),
    "q_tx_dv" -> (qTxDv _),
    "q_tx_dv_update" -> (qTxDvUpdate _),
    "q_tx_timetravel" -> (qTxTimetravel _),
    "q_tx_restore" -> (qTxRestore _),
    "q_tx_update" -> (qTxUpdate _),
    "q_tx_cdf" -> (qTxCdf _),
    "q_tx_ivm" -> (qTxIvm _),
    "q_tx_ivm_view" -> (qTxIvmView _),
    "q_tx_ivm_avg" -> (qTxIvmAvg _),
    "q_tx_ivm_minmax" -> (qTxIvmMinmax _),
    "q_tx_merge_evolve" -> (qTxMergeEvolve _),
    "q_tx_gencol_part" -> (qTxGencolPart _),
    "q_tx_compact" -> (qTxCompact _),
    "q_anomaly" -> (qAnomaly _),
    "q_tx_rename" -> (qTxRename _),
    "q_profile" -> (qProfile _),
    "q_data_card" -> (qDataCard _),
    "q_tx_gencol" -> (qTxGencol _),
    "q_tx_replica" -> (qTxReplica _),
    "q_tx_zorder" -> (qTxZorder _),
    "q_tx_scd2" -> (qTxScd2 _),
    "q_tx_scd2_evolve" -> (qTxScd2Evolve _),
    "q_tx_bloom" -> (qTxBloom _),
    "q_tx_replace" -> (qTxReplace _),
  )

  /** The two-pass heavy hitters output is exact and matches plain SQL;
    * q_approx_stats pins the exact stats and asserts the sketch flags
    * all pass (see [[qApproxStats]]).
    */
  private val joinRevenueSql =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Same window aggregate both the flat and file-skipped variants
    * must answer (the joinRevenueSql convention: identical oracle,
    * different physical file set).
    */
  private val txWindowSql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       |FROM orders
       |WHERE CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) BETWEEN $TxSkipLo AND $TxSkipHi
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** The full-table aggregate both time-travel-shaped queries must
    * answer: q_tx_timetravel pins the pre-merge version of the merged
    * table, q_tx_restore rolls an overwritten table back to its base —
    * both land on the unmodified orders set, by different mechanisms.
    */
  private val txFullSql =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_join_flat" -> joinRevenueSql,
    // same oracle on purpose: two rollback mechanisms (version pin vs
    // restore commit), one ground truth — the unmutated base table
    "q_tx_timetravel" -> txFullSql,
    "q_tx_restore" -> txFullSql,
    // same oracle again on purpose: compaction changes the FILE
    // LAYOUT (builder-asserted collapse + rewrite marker), never the
    // answer
    "q_tx_compact" -> txFullSql,
    // the window aggregate under the RENAMED surface names: matches
    // only if the column mapping is lossless and the skip stays sound
    "q_tx_rename" ->
      s"""SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM orders
         |WHERE CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) BETWEEN $TxSkipLo AND $TxSkipHi
         |GROUP BY priority ORDER BY priority""".stripMargin,
    // the UPDATE reconstructed as a CASE projection — double addition
    // is IEEE-deterministic, identical in Spark and DuckDB
    "q_tx_update" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM (SELECT
        |    CASE WHEN o_orderkey % 7 = 0 THEN '9-UPDATED'
        |         ELSE o_orderpriority END AS o_orderpriority,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 5000.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // same oracle on purpose: the hash compare proves the bucketed
    // layout changes the PLAN (PlanShapeSpec), never the answer
    "q_join_bucketed" -> joinRevenueSql,
    // the UPDATE's change feed reconstructed from the base table: one
    // preimage with the original values + one postimage with the
    // assigned values per matched key, nothing else
    "q_tx_cdf" ->
      """WITH feed AS (
        |  SELECT 'update_preimage' AS _change_type, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'update_postimage', '9-UPDATED', o_totalprice + 5000.0
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT _change_type, o_orderpriority, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM feed GROUP BY _change_type, o_orderpriority
        |ORDER BY _change_type, o_orderpriority""".stripMargin,
    // the IVM fold over the full change feed reconstructs exactly the
    // merged state's aggregate — the same reconstruction as q_tx_merge
    "q_tx_ivm" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 10000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
        |    o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 1000 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the maintained view reads back the same merged-state aggregate
    "q_tx_ivm_view" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 10000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
        |    o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 1000 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // merge-time schema evolution: matched keys get channel + bump,
    // shifted keys insert with channel, everything else reads channel
    // NULL ('legacy') — matches only if the widening commit changed
    // exactly the claimed rows
    "q_tx_merge_evolve" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
        |mx AS (SELECT MAX(o_orderkey) AS m FROM base),
        |merged AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 50 = 0 THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 100 = 0 THEN 'web'
        |         WHEN o_orderkey % 50 = 0 THEN 'store'
        |         ELSE NULL END AS o_channel
        |  FROM base
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT m FROM mx) + 1, o_totalprice, 'new'
        |  FROM base WHERE o_orderkey % 500 = 0)
        |SELECT COALESCE(o_channel, 'legacy') AS channel,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // the retraction-crossing MIN/MAX view: matches only if the
    // affected-groups recompute produced exactly the full-recompute
    // extrema (the folded greatest alone would overstate a group
    // whose pre-update max was retracted)
    "q_tx_ivm_minmax" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 10000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
        |    o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 1000 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
        |  CAST(MIN(o_totalprice) AS DOUBLE) AS min_price
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // AVG off the same maintained view: exact decimal sum cast to
    // double, IEEE-divided by the non-null count (engine-portable —
    // native decimal-division scale rules differ between engines)
    "q_tx_ivm_avg" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 10000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
        |    o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 1000 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(o_totalprice) AS avg_price
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_tx_flat" -> txWindowSql,
    // same window oracle through the GENERATED-partition-column
    // layout: the filter names only the base column; derivation prunes
    "q_tx_gencol_part" -> txWindowSql,
    // same oracle: data skipping changes the FILE SET read (asserted
    // in ScaleOpsSpec via prunedFiles), never the answer
    "q_tx_skip" -> txWindowSql,
    // same window oracle through the scoped-compacted layout: matches
    // only if OPTIMIZE-WHERE moved every window row and no other
    "q_tx_compact_where" -> txWindowSql,
    // same window oracle through the zero-copy clone (whose own
    // divergence append sits outside the window)
    "q_tx_clone" -> txWindowSql,
    // the two-window disjunction: matches only if per-branch pruning
    // dropped no file a branch could still match
    "q_tx_skip_or" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM orders
         |WHERE CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) BETWEEN $TxSkipLo AND $TxSkipHi
         |   OR CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) BETWEEN $TxSkipLo2 AND $TxSkipHi2
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // same oracle: the z-ordered layout prunes on BOTH clustered
    // dimensions (builder-asserted), never changes the answer
    "q_tx_zorder" -> txWindowSql,
    // same oracle once more: here the probe column exists only
    // because the log's GENERATED declaration computed it at write
    // time — the hash matches only if generation is value-exact
    "q_tx_gencol" -> txWindowSql,
    // the CDC round trip graded end-to-end: the replica saw ONLY the
    // change feed, the oracle reconstructs the source's final state
    // (update, then delete, then new-key merge) from scratch
    "q_tx_replica" ->
      """WITH upd AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN '9-UPDATED'
        |         ELSE o_orderpriority END AS o_orderpriority,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 5000.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |surv AS (SELECT * FROM upd WHERE o_orderkey % 5 <> 1),
        |ins AS (
        |  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders) AS o_orderkey,
        |    o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 1000 = 0),
        |fin AS (SELECT * FROM surv UNION ALL SELECT * FROM ins)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM fin GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // SQL reconstruction of the upsert: target rows not matched by a
    // source key, plus all source rows — matches only if the
    // copy-on-write merge replaced/inserted exactly the right rows
    "q_tx_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 10000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
        |    o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 1000 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // per-clause SQL reconstruction of the conditional MERGE: matched
    // updates (op='U') add prices, matched deletes (op='D') vanish,
    // only op='I' shifted rows insert, and the NOT MATCHED BY SOURCE
    // clauses delete the %97=5 slice and re-label the %97=13 slice of
    // the unmatched remainder
    "q_tx_merge_cond" ->
      """WITH mx AS (SELECT MAX(o_orderkey) + 1 AS m FROM orders),
        |src AS (
        |  SELECT o_orderkey, o_totalprice,
        |         CASE WHEN o_orderkey % 200 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |merged AS (
        |  SELECT t.o_orderkey, t.o_orderpriority,
        |         t.o_totalprice + s.o_totalprice AS o_totalprice
        |  FROM orders t JOIN src s ON t.o_orderkey = s.o_orderkey
        |  WHERE s.op = 'U'
        |  UNION ALL
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 97 = 13 THEN '9-BYSRC'
        |              ELSE o_orderpriority END,
        |         o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 50 <> 0 AND o_orderkey % 97 <> 5
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT m FROM mx), o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 500 = 0)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // dynamic partition overwrite: the two frame-present priorities
    // hold only the recomputed rows (even keys, doubled price); the
    // other three partitions carry unchanged
    "q_tx_dynpart" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderpriority NOT IN ('1-URGENT', '3-MEDIUM')
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority, o_totalprice * 2
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |    AND o_orderkey % 2 = 0)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the defaults chain reconstructed flat: explicit segments for
    // even keys, the FIRST declared constant for odd non-%9 keys, the
    // flipped constant for the odd %9 slice inserted after SET DEFAULT
    "q_tx_defaults" ->
      """WITH live AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
        |         WHEN c_custkey % 9 = 0 THEN 'LATE'
        |         ELSE 'UNSEGMENTED' END AS seg,
        |    c_acctbal
        |  FROM customer)
        |SELECT seg, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
        |FROM live GROUP BY seg ORDER BY seg""".stripMargin,
    // the CALL-procedure maintenance chain nets out to a no-op on the
    // DATA (the delete was restored; optimize/zorder/vacuum move rows
    // between files, never change them) — so the data columns are the
    // flat per-brand aggregate, and the maintenance outcomes are
    // constants: zorder pinned the table to 2 live files, and the
    // vacuum dry run predicted the real deletion set exactly
    "q_tx_call" ->
      """SELECT p_brand, COUNT(*) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(2 AS BIGINT) AS live_files,
        |  'true' AS vacuum_exact
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // the SQL-catalog statement sequence reconstructed flat: urgent
    // partition = even keys at doubled price (the static-partition
    // INSERT OVERWRITE), everything else carried, then the range
    // DELETE applied across all partitions
    "q_tx_sql" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice * 2 AS price
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority, o_totalprice AS price
        |  FROM orders WHERE o_orderpriority <> '1-URGENT')
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM live WHERE o_orderkey > 1000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the three widened batches reconstructed flat: matches only if
    // the narrow files read exactly under the widened (long/double)
    // schema and the late narrow batch upcast losslessly
    "q_tx_widen" ->
      """WITH w AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    CASE WHEN o_orderkey % 3 = 1
        |         THEN o_orderkey % 1000 + 4000000000
        |         ELSE o_orderkey % 1000 END AS units,
        |    CAST(o_orderkey % 7 AS DOUBLE) *
        |      (CASE WHEN o_orderkey % 3 = 1 THEN 1.5 ELSE 1.0 END) AS score
        |  FROM orders)
        |SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(units) AS BIGINT) AS units,
        |  CAST(SUM(score) AS DOUBLE) AS score,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM w GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // complement of the skip window: matches only if delete removed
    // exactly the predicate-true rows
    "q_tx_delete" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM orders
         |WHERE CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) NOT BETWEEN $TxSkipLo AND $TxSkipHi
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // modular complement of the dead KEY SET: matches only if
    // deleteKeys removed exactly the listed keys and nothing else
    "q_tx_delkeys" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey % 7 <> 3
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the slice swap reconstructed as a CASE projection: matches only
    // if replaceWhere swapped exactly the 1-URGENT slice (same keys,
    // price restated) and left every other priority byte-identical
    "q_tx_replace" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM (SELECT o_orderpriority,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 2500.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // complement of the masked keys: matches only if the deletion
    // vectors mask exactly the predicate-true positions
    "q_tx_dv" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderkey % 5 <> 1
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // CASE-reconstruction of the DV update: doubled price + rewritten
    // group key where o_orderkey % 5 = 1, original row otherwise —
    // matches only if old versions are masked and post-images live
    "q_tx_dv_update" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT CASE WHEN o_orderkey % 5 = 1 THEN 'U-' || o_orderpriority
        |              ELSE o_orderpriority END AS o_orderpriority,
        |         CASE WHEN o_orderkey % 5 = 1 THEN o_totalprice * 2
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // per-source datasheet + total via ROLLUP; strlen is UTF-8 byte
    // length (= Spark octet_length); all metrics integer
    "q_data_card" ->
      """SELECT COALESCE(source, '_total') AS source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes,
        |  CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
        |    AS sum_tokens,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(trim(text))) AS BIGINT) AS n_dup_docs
        |FROM documents GROUP BY ROLLUP(source) ORDER BY source""".stripMargin,
    // one-pass profile reconstructed metric-by-metric; all integers
    "q_profile" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n_rows,
        |    SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS text_nulls,
        |    COUNT(DISTINCT text) AS text_distinct,
        |    MIN(length(text)) AS text_min, MAX(length(text)) AS text_max,
        |    SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS lang_nulls,
        |    COUNT(DISTINCT lang) AS lang_distinct,
        |    MIN(length(lang)) AS lang_min, MAX(length(lang)) AS lang_max,
        |    SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS source_nulls,
        |    COUNT(DISTINCT source) AS source_distinct,
        |    MIN(length(source)) AS source_min, MAX(length(source)) AS source_max,
        |    SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS doc_id_nulls,
        |    COUNT(DISTINCT doc_id) AS doc_id_distinct,
        |    MIN(doc_id) AS doc_id_min, MAX(doc_id) AS doc_id_max,
        |    SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS n_chars_nulls,
        |    COUNT(DISTINCT n_chars) AS n_chars_distinct,
        |    MIN(n_chars) AS n_chars_min, MAX(n_chars) AS n_chars_max
        |  FROM documents)
        |SELECT column_name, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '_table' AS column_name, 'n_rows' AS metric, n_rows AS value FROM a
        |  UNION ALL SELECT 'text', 'n_nulls', text_nulls FROM a
        |  UNION ALL SELECT 'text', 'n_distinct', text_distinct FROM a
        |  UNION ALL SELECT 'text', 'min_len', text_min FROM a
        |  UNION ALL SELECT 'text', 'max_len', text_max FROM a
        |  UNION ALL SELECT 'lang', 'n_nulls', lang_nulls FROM a
        |  UNION ALL SELECT 'lang', 'n_distinct', lang_distinct FROM a
        |  UNION ALL SELECT 'lang', 'min_len', lang_min FROM a
        |  UNION ALL SELECT 'lang', 'max_len', lang_max FROM a
        |  UNION ALL SELECT 'source', 'n_nulls', source_nulls FROM a
        |  UNION ALL SELECT 'source', 'n_distinct', source_distinct FROM a
        |  UNION ALL SELECT 'source', 'min_len', source_min FROM a
        |  UNION ALL SELECT 'source', 'max_len', source_max FROM a
        |  UNION ALL SELECT 'doc_id', 'n_nulls', doc_id_nulls FROM a
        |  UNION ALL SELECT 'doc_id', 'n_distinct', doc_id_distinct FROM a
        |  UNION ALL SELECT 'doc_id', 'min', doc_id_min FROM a
        |  UNION ALL SELECT 'doc_id', 'max', doc_id_max FROM a
        |  UNION ALL SELECT 'n_chars', 'n_nulls', n_chars_nulls FROM a
        |  UNION ALL SELECT 'n_chars', 'n_distinct', n_chars_distinct FROM a
        |  UNION ALL SELECT 'n_chars', 'min', n_chars_min FROM a
        |  UNION ALL SELECT 'n_chars', 'max', n_chars_max FROM a)
        |ORDER BY column_name, metric""".stripMargin,
    // decimal-sum moments → IEEE mean/std/z on identical scalars: the
    // filter and the z values match bit-for-bit with no quantization
    "q_anomaly" ->
      """WITH s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sv,
        |    SUM(CAST(value*value AS DECIMAL(24,4))) AS sv2
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type,
        |    CAST(sv AS DOUBLE)/CAST(n AS DOUBLE) AS mean,
        |    CAST(sv2 AS DOUBLE)/CAST(n AS DOUBLE) AS ex2
        |  FROM s),
        |t AS (SELECT event_type, mean, sqrt(ex2 - mean*mean) AS std FROM m)
        |SELECT e.event_id, e.event_type, e.value,
        |  (e.value - t.mean)/t.std AS z
        |FROM events e JOIN t USING (event_type)
        |WHERE (e.value - t.mean)/t.std > 3.0 OR (e.value - t.mean)/t.std < -3.0
        |ORDER BY e.event_type, e.event_id""".stripMargin,
    "q_approx_stats" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(1 AS BIGINT) AS hll_ok,
        |  CAST(1 AS BIGINT) AS p50_ok,
        |  CAST(1 AS BIGINT) AS p99_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_open_intervals" ->
      """WITH o AS (
        |  SELECT CAST(o_orderdate AS DATE) AS sd,
        |    CAST(o_orderkey % 30 AS INT) AS len
        |  FROM orders),
        |ev AS (
        |  SELECT sd AS d, 1 AS delta FROM o
        |  UNION ALL
        |  SELECT sd + (len + 1), -1 FROM o),
        |net AS (SELECT d, CAST(SUM(delta) AS BIGINT) AS net FROM ev GROUP BY d)
        |SELECT d, net, CAST(SUM(net) OVER (ORDER BY d) AS BIGINT) AS open
        |FROM net ORDER BY d""".stripMargin,
    "q_bloom_new_docs" ->
      """WITH f AS (
        |  SELECT doc_id, source, md5(trim(text)) AS fingerprint,
        |    CAST(substring(source, 4) AS INT) AS src_num
        |  FROM documents)
        |SELECT doc_id, source
        |FROM f n
        |WHERE src_num >= 10
        |  AND NOT EXISTS (SELECT 1 FROM f e
        |                  WHERE e.src_num < 10 AND e.fingerprint = n.fingerprint)
        |ORDER BY doc_id""".stripMargin,
    "q_salted_agg" ->
      """SELECT l_suppkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    // plain IN reconstruction: matches only if the bloom-pruned scan
    // read every file that held a probed key (soundness) — the builder
    // separately asserts it read only a minority of files (the skip)
    "q_tx_bloom" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderkey % 1000 = 0
        |                     ORDER BY o_orderkey LIMIT 5)
        |ORDER BY o_orderkey""".stripMargin,
    // SCD2 reconstructed from first principles: the current row of a
    // key is its LAST arriving distinct version (epoch 3 for %20==0,
    // epoch 2 for %10-not-%20, epoch 1 otherwise); closed rows are
    // every superseded version (the %10 epoch-2 rows closed at 3 ONLY
    // where %20 changed again — the no-op must leave the rest open).
    // Double additions are IEEE-deterministic, identical in DuckDB.
    // the evolved dimension reconstructed from first principles: the
    // epoch-4 reload only transitions tier NULL -> gold/silver, so
    // every %10 key re-closes once more and history rows stay untier'd
    "q_tx_scd2_evolve" ->
      """WITH cur AS (
        |  SELECT c_mktsegment,
        |    c_acctbal + CASE WHEN c_custkey % 20 = 0 THEN 250.0
        |                     WHEN c_custkey % 10 = 0 THEN 100.0
        |                     ELSE 0.0 END AS bal,
        |    CASE WHEN c_custkey % 10 = 0 THEN 4 ELSE 1 END AS f,
        |    CASE WHEN c_custkey % 20 = 0 THEN 'gold'
        |         WHEN c_custkey % 10 = 0 THEN 'silver' END AS tier
        |  FROM customer),
        |closed AS (
        |  SELECT c_mktsegment FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_mktsegment FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_mktsegment FROM customer WHERE c_custkey % 20 = 0),
        |a AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_current,
        |    COUNT(CASE WHEN tier = 'gold' THEN 1 END) AS n_gold,
        |    COUNT(CASE WHEN tier = 'silver' THEN 1 END) AS n_silver,
        |    CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS cur_bal,
        |    CAST(SUM(f) AS BIGINT) AS from_sum
        |  FROM cur GROUP BY 1),
        |b AS (SELECT c_mktsegment, COUNT(*) AS n_closed FROM closed GROUP BY 1)
        |SELECT a.c_mktsegment, a.n_current,
        |  COALESCE(b.n_closed, 0) AS n_closed, a.n_gold, a.n_silver,
        |  CAST(0 AS BIGINT) AS n_closed_tiered, a.cur_bal, a.from_sum
        |FROM a LEFT JOIN b USING (c_mktsegment)
        |ORDER BY a.c_mktsegment""".stripMargin,
    "q_tx_scd2" ->
      """WITH cur AS (
        |  SELECT c_mktsegment,
        |    c_acctbal + CASE WHEN c_custkey % 20 = 0 THEN 250.0
        |                     WHEN c_custkey % 10 = 0 THEN 100.0
        |                     ELSE 0.0 END AS bal,
        |    CASE WHEN c_custkey % 20 = 0 THEN 3
        |         WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS f
        |  FROM customer),
        |closed AS (
        |  SELECT c_mktsegment, c_acctbal AS bal
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_mktsegment, c_acctbal + 100.0
        |  FROM customer WHERE c_custkey % 20 = 0),
        |a AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_current,
        |    CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS cur_bal,
        |    CAST(SUM(f) AS BIGINT) AS from_sum
        |  FROM cur GROUP BY 1),
        |b AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_closed,
        |    CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS closed_bal
        |  FROM closed GROUP BY 1)
        |SELECT a.c_mktsegment, a.n_current,
        |  COALESCE(b.n_closed, 0) AS n_closed, a.cur_bal,
        |  COALESCE(b.closed_bal, 0.0) AS closed_bal, a.from_sum
        |FROM a LEFT JOIN b USING (c_mktsegment)
        |ORDER BY a.c_mktsegment""".stripMargin,
    "q_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tok AS (SELECT token FROM t WHERE token <> ''),
        |tot AS (SELECT COUNT(*) AS n FROM tok)
        |SELECT token, COUNT(*) AS n_occurrences
        |FROM tok, tot GROUP BY token, tot.n
        |HAVING COUNT(*) * 32 > tot.n
        |ORDER BY n_occurrences DESC, token""".stripMargin,
  )
}
