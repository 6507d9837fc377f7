package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class CrawlRefreshSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("refresh is idempotent, partitions arrivals, and merges exactly the admitted set") {
    val run1 = CrawlRefresh.qCrawlRefresh(spark, dir).collect().map(_.toSeq)
    val run2 = CrawlRefresh.qCrawlRefresh(spark, dir).collect().map(_.toSeq)
    assert(run1.toSeq == run2.toSeq, "re-running the refresh must change nothing")

    val docs = graft.core.Tables.load(spark, dir, "documents")
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val nNew = docs.where(srcNum >= 10).count()
    val nDup = docs.where(srcNum >= 10 && col("doc_id") % 37 === 0).count()
    val nOld = docs.where(srcNum < 10).count()
    val audit = run1.filter(_.head.toString.startsWith("_"))
      .map(r => r.head.toString -> r(1).asInstanceOf[Long]).toMap
    // the buckets partition the raw FETCH records exactly: one row per
    // doc plus one _url_dup row per collapsed duplicate fetch
    assert(audit.values.sum == nNew + nDup,
      s"audit $audit must sum to ${nNew + nDup} fetches")
    assert(audit.getOrElse("_url_dup", 0L) == nDup,
      s"frontier dedup must collapse exactly the $nDup duplicate fetches")
    assert(audit.getOrElse("_admitted", 0L) > 0, "the refresh must admit something")
    val gateRejected = audit.collect { case (b, n) if b.startsWith("_gate_") => n }.sum
    assert(gateRejected > 0, s"the Gopher gate must reject something: $audit")

    // the refreshed table = old corpus + exactly the admitted docs
    val table = CrawlRefresh.corpusTable(spark, dir).read()
    assert(table.count() == nOld + audit("_admitted"))
    val ids = table.select("doc_id").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "merge must never duplicate a doc")
    // per-source rows equal the table's own aggregate
    val perSource = run1.filterNot(_.head.toString.startsWith("_"))
      .map(r => (r.head.toString, r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    val expect = table.groupBy(col("source"))
      .agg(count(lit(1)), sum(octet_length(col("text")).cast("long")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(perSource.sortBy(_._1).toSeq == expect.sortBy(_._1).toSeq)
  }

  test("streaming refresh: the index grows with admissions; restarts are exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, explode}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // distinct-vocab texts never near-dup each other; ≥20 tokens with
    // a stopword so the gate passes
    def text(k: Long): String =
      (1 to 24).map(i => s"w${k}_$i").patch(3, Seq("the"), 0).mkString(" ")
    def nearDup(of: Long): String = {
      val t = text(of).split(" ")
      t.updated(t.length - 2, "CHANGED").mkString(" ")
    }
    val base = tmpDir("stream-refresh")
    val corpus = new graft.core.TxTable(spark, s"$base/corpus")
    corpus.append(Seq((1L, "seed", text(1))).toDF("doc_id", "source", "text"))
    val index = new graft.core.TxTable(spark, s"$base/index")
    // seed and stream share dfreq=None (all-zero df, the h-asc order)
    // — one total order per index lifecycle, the prefix theorem's
    // requirement
    index.append(CrawlRefresh.indexRows(
      TextAnalysis.docShingleSets(corpus.read()), None, "corpus"))

    // the optional final stage: admitted docs flow into the TRAINING
    // ARTIFACT with a frozen vocab and per-source pack continuation
    val artifact = CorpusBuild.run(corpus.read(), s"$base/artifact")
    val frozenVocab = TextAnalysis.vocabOf(corpus.read(), minCount = 1)
      .localCheckpoint()

    val stream = MemoryStream[(Long, String, String)]
    def run(): Unit = CrawlRefresh.streamRefresh(
      stream.toDF().toDF("doc_id", "source", "text")
        // fetch rows: each doc its own canonical URL (frontier no-op)
        .withColumn("canon_url",
          concat(lit("https://example.org/crawl/"), col("doc_id").cast("string"))),
      corpus, index, s"$base/ckpt",
      trainingArtifact = Some((artifact, frozenVocab))).awaitTermination()

    // wave 1: near-dup of the seed, a unique doc, a gate failure, an
    // intra-batch near-dup pair (smaller id wins), and a doc that
    // passes every STRUCTURAL rule but is killed by the wired
    // repetition rule (5 copies of one 25-word stopword-bearing line)
    stream.addData(Seq(
      (10L, "crawl", nearDup(1)),
      (11L, "crawl", text(11)),
      (12L, "crawl", "too short entirely"),
      (13L, "crawl", text(13)),
      (14L, "crawl", nearDup(13)),
      (15L, "crawl", Seq.fill(5)("the alpha beta gamma delta").mkString("\n"))))
    run()
    val ids1 = corpus.read().select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids1.toSeq == Seq(1L, 11L, 13L), s"wave 1 admitted $ids1")

    // wave 2 across a RESTART: a near-dup of a wave-1 ADMISSION must
    // be rejected — only possible because the index grew
    stream.addData(Seq((20L, "crawl", nearDup(11)), (21L, "crawl", text(21))))
    run()
    val ids2 = corpus.read().select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids2.toSeq == Seq(1L, 11L, 13L, 21L), s"wave 2 admitted $ids2")
    // the index holds postings for the corpus seed plus every
    // GATE-PASSING arrival (the batch greedy rule mines pairs over all
    // gated docs, so the stream indexes them all — only 12 failed the
    // gate), each tagged with its origin
    val idxDocs = index.read()
      .select(org.apache.spark.sql.functions
        .shiftrightunsigned(col("m"), graft.functions.PairExpand.SzBits))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(idxDocs == Set(1L, 10L, 11L, 13L, 14L, 20L, 21L), s"index docs $idxDocs")
    assert(index.read().where(col("origin") === "corpus")
      .select(org.apache.spark.sql.functions
        .shiftrightunsigned(col("m"), graft.functions.PairExpand.SzBits))
      .distinct().count() == 1, "only the seed is corpus-origin")

    // the TRAINING ARTIFACT followed: exactly the corpus docs, once
    // each, with per-source pack ids still contiguous from 0 (the
    // continuation law) and every id decoding through the frozen vocab
    val art = artifact.read().collect()
    assert(art.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 11L, 13L, 21L))
    art.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val packs = rs.map(_.getAs[Long]("pack_id")).distinct.sorted
      assert(packs.head == 0L && packs.toSeq == (0L to packs.last).toSeq,
        s"pack continuation broken: ${packs.toSeq}")
    }
    val vmap = frozenVocab.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val textOf = Map(1L -> text(1), 11L -> text(11), 13L -> text(13), 21L -> text(21))
    art.foreach { r =>
      val toks = textOf(r.getAs[Long]("doc_id")).split(" ")
      val tids = r.getSeq[Long](r.fieldIndex("token_ids"))
      assert(tids.length == toks.length)
      tids.zip(toks).foreach { case (tid, tok) =>
        if (tid >= 0) assert(vmap(tid) == tok)
      }
    }

    // wave 3: a cross-batch REFETCH of an admitted doc with
    // suppressRefetch — the keyed frontier state drops it before
    // dispositioning: corpus, index and ARTIFACT all unchanged (no
    // re-append: the new batchId would have defeated the txn guard),
    // and the audit books it under _refetch
    val auditT = new graft.core.TxTable(spark, s"$base/audit3")
    val artRowsBefore = artifact.read().count()
    val idxRowsBefore = index.read().count()
    stream.addData(Seq((11L, "crawl", text(11))))
    CrawlRefresh.streamRefresh(
      stream.toDF().toDF("doc_id", "source", "text")
        .withColumn("canon_url",
          concat(lit("https://example.org/crawl/"), col("doc_id").cast("string"))),
      corpus, index, s"$base/ckpt",
      audit = Some(auditT),
      trainingArtifact = Some((artifact, frozenVocab)),
      suppressRefetch = true).awaitTermination()
    assert(corpus.read().count() == 4, "refetch must not change the corpus")
    assert(artifact.read().count() == artRowsBefore,
      "refetch must not re-append to the training artifact")
    assert(index.read().count() == idxRowsBefore,
      "refetch must not re-index postings")
    val a3 = auditT.read().collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("bucket")))
    assert(a3.toSeq == Seq((11L, "_refetch")), s"audit: ${a3.toSeq}")
  }

  test("parseFetches: response records are header-stripped; non-200 and non-text responses drop; latest fetch wins") {
    import spark.implicits._
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val parsed = CrawlRefresh.parseFetches(
      graft.sources.Warc.read(spark, CrawlRefresh.crawlFixture(spark, dir)))
      .localCheckpoint()
    // every doc's parsed text equals its payload text — the HTTP
    // preamble of odd-id response records never leaks into the text
    assert(parsed.where(col("text").startsWith("HTTP/")).count() == 0)
    // the 404 and image noise records were dropped: fetch count per
    // doc is 1 + (1 if %37), regardless of %53/%59 membership
    val counts = parsed.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .join(docs.where(srcNum >= 10).select(col("doc_id")), Seq("doc_id"))
    assert(counts.where(col("doc_id") % 37 === 0 && col("n") =!= 2).count() == 0)
    assert(counts.where(col("doc_id") % 37 =!= 0 && col("n") =!= 1).count() == 0)
    val n53 = docs.where(srcNum >= 10 && col("doc_id") % 53 === 0).count()
    assert(n53 > 0, "fixture must contain %53 noise docs for the drop law to bite")
    // latest-wins: a %37 doc's keeper is the day-2 'refreshed: ' payload
    val dispo = CrawlRefresh.qCrawlRefresh(spark, dir) // builds the corpus table
    dispo.collect()
    val kept37 = CrawlRefresh.corpusTable(spark, dir).read()
      .where(srcNum >= 10 && col("doc_id") % 37 === 0)
    assert(kept37.count() > 0, "some refetched doc must be admitted")
    assert(kept37.where(!col("text").startsWith("refreshed: ")).count() == 0,
      "the frontier keeper must be the LATEST fetch's payload")
  }

  test("hostCapStream composes upstream of streamRefresh: capped hosts never reach the corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val overrides = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
    val prev = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    def text(k: Long): String =
      (1 to 24).map(i => s"h${k}_$i").patch(3, Seq("the"), 0).mkString(" ")
    val base = tmpDir("hostcap-refresh")
    val corpus = new graft.core.TxTable(spark, s"$base/corpus")
    corpus.append(Seq((1L, "seed", text(1))).toDF("doc_id", "source", "text"))
    val index = new graft.core.TxTable(spark, s"$base/index")
    index.append(CrawlRefresh.indexRows(
      TextAnalysis.docShingleSets(corpus.read()), None, "corpus"))
    // the frontier-policy stage (per-host cap, the FineWeb balance
    // pass) runs UPSTREAM of the content pipeline, in the same
    // streaming query: capped docs never get parsed, gated or mined
    val stream = MemoryStream[(String, Long, String)]
    def run(): Unit = CrawlRefresh.streamRefresh(
      StreamOps.hostCapStream(
        stream.toDS().map { case (h, id, t) => StreamOps.CapDoc(h, id, t) },
        cap = 2)
        .toDF()
        .select(col("docId").as("doc_id"), lit("crawl").as("source"),
          col("payload").as("text"),
          concat(lit("https://"), col("host"), lit("/p"),
            col("docId").cast("string")).as("canon_url")),
      corpus, index, s"$base/ckpt").awaitTermination()
    try {
      // host a over-delivers in one batch (smallest 2 ids win); b under
      stream.addData(("a", 12L, text(12)), ("a", 10L, text(10)),
        ("a", 11L, text(11)), ("b", 20L, text(20)))
      run()
      val ids1 = corpus.read().select("doc_id").collect().map(_.getLong(0)).sorted
      assert(ids1.toSeq == Seq(1L, 10L, 11L, 20L),
        s"cap must drop doc 12 before the refresh: ${ids1.toSeq}")
      // a later batch: a is full (9 capped out), b admits one more
      stream.addData(("a", 9L, text(9)), ("b", 21L, text(21)))
      run()
      val ids2 = corpus.read().select("doc_id").collect().map(_.getLong(0)).sorted
      assert(ids2.toSeq == Seq(1L, 10L, 11L, 20L, 21L),
        s"capped host must stay capped across batches: ${ids2.toSeq}")
    } finally {
      prev.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(old => spark.conf.set(k, old))
      }
    }
  }

  test("stream equals batch: the 2-micro-batch checkpointed refresh lands the identical accounting frame") {
    val batch = CrawlRefresh.qCrawlRefresh(spark, dir).collect().map(_.toSeq)
    val stream = CrawlRefresh.qCrawlRefreshStream(spark, dir).collect().map(_.toSeq)
    assert(stream.toSeq == batch.toSeq,
      s"stream ≠ batch:\n  batch=${batch.toSeq}\n  stream=${stream.toSeq}")
  }

  test("suppressed refetch run = batch accounting + exactly one _refetch row") {
    val batch = CrawlRefresh.qCrawlRefresh(spark, dir).collect()
      .map(r => (r.getString(0), r.get(1), r.get(2)))
    val sup = CrawlRefresh.qCrawlRefreshSuppress(spark, dir).collect()
      .map(r => (r.getString(0), r.get(1), r.get(2)))
    val nRefetch = graft.core.Tables.load(spark, dir, "documents")
      .where(substring(col("source"), 4, 10).cast("int") < 10 &&
        col("doc_id") % 13 === 0).count()
    assert(nRefetch > 0)
    val expected = (batch :+ (("_refetch", nRefetch, null: Any)))
      .sortBy(_._1.toString)
    assert(sup.sortBy(_._1.toString).toSeq == expected.toSeq,
      s"suppressed ≠ batch+_refetch:\n${sup.toSeq}\nvs\n${expected.toSeq}")
  }

  test("suppression probe is O(batch): bloom-negatives skip the join, the key table is never re-exchanged") {
    import spark.implicits._
    val base = tmpDir("frontier-probe")
    val corpus = new graft.core.TxTable(spark, s"$base/corpus")
    corpus.append((1L to 1000L).map(i => (i, "seed", s"t$i"))
      .toDF("doc_id", "source", "text"))
    val st = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/probe_spec")
    val batch = (990L to 1010L).map(i => (i, s"u$i")).toDF("doc_id", "text")
      .localCheckpoint()
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = st.filterNew(batch)
      val got = probe.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == (1001L to 1010L).map(identity).toSet,
        s"probe must drop exactly the corpus-known keys: $got")
      // the exact-verify anti-join must be the ONLY shuffle: its batch
      // side exchanges to the key table's bucketing, the key side
      // scans its buckets in place (no exchange, no corpus rescan)
      val (sh, _) = graft.PlanDump.counts(probe.queryExecution.executedPlan)
      assert(sh <= 1, s"key side re-exchanged: $sh shuffles in the probe plan")
      // in-run admissions fold into the probe
      st.admit(Seq(2000L).toDF("doc_id"))
      val again = st.filterNew(Seq((2000L, "x"), (2001L, "y")).toDF("doc_id", "text")
        .localCheckpoint())
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(again == Set(2001L), s"admitted key must suppress its refetch: $again")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
  }

  test("the corpus-seeded bloom broadcasts exactly once per run; recent re-broadcasts only on admit") {
    import spark.implicits._
    val base = tmpDir("frontier-bc")
    val corpus = new graft.core.TxTable(spark, s"$base/corpus")
    corpus.append((1L to 100L).map(i => (i, "seed", s"t$i"))
      .toDF("doc_id", "source", "text"))
    val st = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/bc_spec")
    (1 to 3).foreach { i =>
      st.filterNew((1L to 5L).map(k => (k * 1000L + i, s"u$k"))
        .toDF("doc_id", "text").localCheckpoint()).collect()
    }
    // three triggers, ONE corpus-sized seed broadcast (the constructor's)
    assert(st.seedBroadcasts == 1,
      s"seed bloom must broadcast once per run, saw ${st.seedBroadcasts}")
    val rb0 = st.recentBroadcasts
    st.filterNew(Seq((7777L, "x")).toDF("doc_id", "text").localCheckpoint()).collect()
    assert(st.recentBroadcasts == rb0,
      "a trigger without admissions must not re-broadcast the recent bloom")
    st.admit(Seq(7777L).toDF("doc_id"))
    assert(st.recentBroadcasts == rb0 + 1,
      "an admit must refresh the fixed-shape recent broadcast exactly once")
  }

  test("a frontier restart reseeds O(delta): persisted artifact + corpus change feed, not a corpus rescan") {
    import spark.implicits._
    val base = tmpDir("frontier-delta")
    val corpus = new graft.core.TxTable(spark, s"$base/corpus")
    corpus.append((1L to 500L).map(i => (i, "seed", s"t$i"))
      .toDF("doc_id", "source", "text"))
    val run1 = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/delta_spec")
    assert(!run1.seededFromDelta && run1.seedScanCount == 500L,
      "first run seeds from the full corpus")
    // the run admits docs by MERGING them into the corpus (the
    // streamRefresh survivors path) — exactly what the next restart
    // must pick up from the change feed
    corpus.merge(Seq((901L, "crawl", "x"), (902L, "crawl", "y"))
      .toDF("doc_id", "source", "text"), Seq("doc_id"))
    val run2 = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/delta_spec")
    assert(run2.seededFromDelta, "restart must reseed from the persisted artifact")
    assert(run2.seedScanCount == 2L,
      s"restart must read only the 2-key delta, scanned ${run2.seedScanCount}")
    val kept = run2.filterNew(
      Seq((1L, "a"), (901L, "b"), (902L, "c"), (903L, "d"))
        .toDF("doc_id", "text").localCheckpoint())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(903L),
      s"delta-reseeded state must suppress old AND delta keys: kept $kept")
    // a restart with nothing new folds nothing and scans nothing
    val run3 = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/delta_spec")
    assert(run3.seededFromDelta && run3.seedScanCount == 0L)
    // a DIFFERENT corpus under the same tag must not trust the state
    val other = new graft.core.TxTable(spark, s"$base/other")
    other.append(Seq((5L, "o", "z")).toDF("doc_id", "source", "text"))
    val run4 = new CrawlRefresh.FrontierIndex(spark, other, s"$base/delta_spec")
    assert(!run4.seededFromDelta, "a corpus swap must force a full reseed")
  }

  test("torn frontier state: a stale meta refolds its delta idempotently; a torn bloom forces a full reseed") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val base = tmpDir("frontier-torn")
    val corpus = new graft.core.TxTable(spark, s"$base/corpus")
    corpus.append((1L to 200L).map(i => (i, "seed", s"t$i"))
      .toDF("doc_id", "source", "text"))
    val v1 = corpus.version
    new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/torn_spec") // full seed at v1
    corpus.merge(Seq((901L, "crawl", "x"), (902L, "crawl", "y"))
      .toDF("doc_id", "source", "text"), Seq("doc_id"))
    val v2 = corpus.version
    val run2 = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/torn_spec")
    assert(run2.seededFromDelta && run2.seedScanCount == 2L)
    val stateDir = Paths.get(s"$base/torn_spec_frontier.state")
    val metaP = stateDir.resolve("meta.properties")
    // the documented crash window: bloom written at v2, meta still at
    // v1 — the next start re-reads (v1, v2] but the table-side
    // anti-join drops the already-folded keys, so nothing re-appends
    // and the kept set must not move
    Files.writeString(metaP, new String(Files.readAllBytes(metaP))
      .replace(s"version=$v2", s"version=$v1"))
    val run3 = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/torn_spec")
    assert(run3.seededFromDelta && run3.seedScanCount == 0L,
      s"a stale-meta refold must append nothing new, got ${run3.seedScanCount}")
    val kept = run3.filterNew(
      Seq((1L, "a"), (901L, "b"), (902L, "c"), (903L, "d"))
        .toDF("doc_id", "text").localCheckpoint())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(903L), s"refolded state must still suppress exactly: $kept")
    // a torn bloom (partial write) must not be trusted: full reseed
    Files.write(stateDir.resolve("bloom.bin"), Array[Byte](1, 2, 3))
    val run4 = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/torn_spec")
    assert(!run4.seededFromDelta, "a torn bloom must force the full reseed")
    val kept4 = run4.filterNew(
      Seq((902L, "c"), (903L, "d")).toDF("doc_id", "text").localCheckpoint())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept4 == Set(903L))
  }

  test("a replayed batch's own admitted keys are not suppressed; later batches suppress them") {
    import spark.implicits._
    val base = tmpDir("frontier-replay")
    val corpus = new graft.core.TxTable(spark, s"$base/corpus")
    corpus.append(Seq((1L, "seed", "t1")).toDF("doc_id", "source", "text"))
    val st = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/replay_spec")
    // batch 7 admitted doc 42, then the trigger is REPLAYED before its
    // audit committed: the replay must re-see 42 (and re-disposition
    // it via the idempotent merge), not book it _refetch
    st.admit(Seq(42L).toDF("doc_id"), batchId = 7L)
    val replay = st.filterNew(Seq((42L, "x"), (1L, "y")).toDF("doc_id", "text")
      .localCheckpoint(), batchId = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay == Set(42L),
      s"batch 7's replay must re-see its own key but not the corpus key: $replay")
    val later = st.filterNew(Seq((42L, "x")).toDF("doc_id", "text")
      .localCheckpoint(), batchId = 8L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(later.isEmpty, s"batch 8 must suppress batch 7's admission: $later")
    // the exclusion SURVIVES a query restart through the delta reseed:
    // the admitted key's batch tag lives in the persisted table, so a
    // checkpoint-replayed batch 7 after the restart still re-sees 42
    corpus.merge(Seq((42L, "crawl", "x")).toDF("doc_id", "source", "text"),
      Seq("doc_id")) // the run also merged it — what the delta folds
    val st2 = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/replay_spec")
    assert(st2.seededFromDelta, "restart must take the delta path for this law")
    val replay2 = st2.filterNew(Seq((42L, "x"), (1L, "y"))
      .toDF("doc_id", "text").localCheckpoint(), batchId = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay2 == Set(42L),
      s"the batch tag must survive a delta-reseeded restart: $replay2")
    val later2 = st2.filterNew(Seq((42L, "x")).toDF("doc_id", "text")
      .localCheckpoint(), batchId = 9L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(later2.isEmpty)
  }

  test("filterNew equals exact set difference over randomized corpora and admissions (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1912)
    val corpusKeys = Seq.fill(300)(rnd.nextLong().abs % 100000L).distinct
    val base = tmpDir("frontier-fuzz")
    val corpus = new graft.core.TxTable(spark, s"$base/corpus")
    corpus.append(corpusKeys.map(k => (k, "seed", s"t$k"))
      .toDF("doc_id", "source", "text"))
    val st = new CrawlRefresh.FrontierIndex(spark, corpus, s"$base/fuzz_spec")
    val admitted = Seq.fill(60)(rnd.nextLong().abs % 100000L).distinct
    st.admit(admitted.toDF("doc_id"), batchId = 1L)
    // batches drawn from the same universe: heavy overlap with both
    // the corpus and the admissions, plus genuinely-new keys
    (1 to 5).foreach { i =>
      val batch = Seq.fill(120)(rnd.nextLong().abs % 100000L).distinct
      val got = st.filterNew(batch.map(k => (k, s"u$k")).toDF("doc_id", "text")
        .localCheckpoint(), batchId = 100L + i)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val expect = batch.toSet -- corpusKeys -- admitted
      assert(got == expect,
        s"round $i: bloom+anti-join drifted from exact set difference — " +
          s"extra=${got -- expect}, missing=${expect -- got}")
    }
  }

  test("two frontier indexes in one session are isolated: no shared suppression state") {
    import spark.implicits._
    val base = tmpDir("frontier-iso")
    val c1 = new graft.core.TxTable(spark, s"$base/c1")
    c1.append((1L to 10L).map(i => (i, "a", s"t$i")).toDF("doc_id", "source", "text"))
    val c2 = new graft.core.TxTable(spark, s"$base/c2")
    c2.append((101L to 110L).map(i => (i, "b", s"t$i")).toDF("doc_id", "source", "text"))
    val f1 = new CrawlRefresh.FrontierIndex(spark, c1, s"$base/iso_a")
    val f2 = new CrawlRefresh.FrontierIndex(spark, c2, s"$base/iso_b")
    f1.admit(Seq(500L).toDF("doc_id"))
    val probe = Seq((500L, "x"), (1L, "y"), (101L, "z")).toDF("doc_id", "text")
      .localCheckpoint()
    val via1 = f1.filterNew(probe).select("doc_id").collect().map(_.getLong(0)).toSet
    val via2 = f2.filterNew(probe).select("doc_id").collect().map(_.getLong(0)).toSet
    // f1 knows its corpus (1) and its admission (500), not f2's corpus
    assert(via1 == Set(101L), s"f1 kept $via1")
    // f2 knows only its own corpus (101) — f1's admission must not leak
    assert(via2 == Set(500L, 1L), s"f2 kept $via2")
  }

  test("refresh dispositions ride the prefix filter: boilerplate shingles generate no candidates") {
    import spark.implicits._
    import graft.functions.PairExpand
    // license-header corpus: every doc opens with the same 30-token
    // boilerplate; tails are unique except doc 101, a true dup of old
    // doc 1. Full postings would pair every new doc with every old
    // doc through the header; the df-ordered prefix must not.
    val header = (1 to 30).map(i => s"license$i").mkString(" ")
    def tail(k: Long) = (1 to 30).map(i => s"t${k}_$i").mkString(" ")
    val oldDf = (1L to 10L).map(i => (i, "seed", s"$header ${tail(i)} the"))
      .toDF("doc_id", "source", "text")
    val newDf = Seq(
      (100L, "crawl", s"$header ${tail(100)} the"),
      (101L, "crawl", s"$header ${tail(1)} the"))
      .toDF("doc_id", "source", "text")
    val dfreq = TextAnalysis.docShingleSets(oldDf)
      .select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val idx = CrawlRefresh.indexRows(
      TextAnalysis.docShingleSets(oldDf), Some(dfreq), "corpus")
      .localCheckpoint()
    val gated = newDf
      .select(col("doc_id"), col("source"), col("text"),
        CrawlRefresh.gateBucket.as("gate_bucket"))
      .withColumn("pass_gate", col("gate_bucket").isNull)
    assert(gated.where(!col("pass_gate")).count() == 0,
      "fixture docs must pass the Gopher gate")
    // shrink accounting: the refresh path's candidate set vs the
    // full-postings candidate set on the same batch
    val newRows = CrawlRefresh.indexRows(
      TextAnalysis.docShingleSets(newDf), Some(dfreq), "new")
    val prefixCand = CrawlRefresh.dispoCandidates(newRows,
      CrawlRefresh.indexParts(idx)._1).count()
    val fullCand = TextAnalysis.docShingleSets(newDf)
      .select(explode(col("hs")).as("h"), TextAnalysis.packedMember.as("m"))
      .select(col("h"), col("m").as("mn"))
      .join(TextAnalysis.docShingleSets(oldDf)
        .select(explode(col("hs")).as("h"), TextAnalysis.packedMember.as("m"))
        .select(col("h"), col("m").as("mo")), "h")
      .select(col("mn"), col("mo")).distinct().count()
    assert(fullCand == 20, s"full postings must pair all 2x10 docs, got $fullCand")
    assert(prefixCand <= 2,
      s"prefix candidates must exclude boilerplate-only pairs, got $prefixCand")
    // and the disposition itself is exact: the dup rejected, the
    // unique tail admitted
    val dispo = CrawlRefresh.dispositions(gated,
        Seq(CrawlRefresh.indexParts(idx)), Some(dfreq))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(dispo == Map(100L -> "_admitted", 101L -> "_neardup_old"), dispo.toString)
  }

  test("the refresh's corpus side is never re-exchanged: index scans sit directly under their joins") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    CrawlRefresh.qCrawlRefresh(spark, dir).collect() // fixtures + index exist
    val fetches = CrawlRefresh.parseFetches(
      graft.sources.Warc.read(spark, CrawlRefresh.crawlFixture(spark, dir)))
    val gated = fetches
      .select(col("doc_id"), col("source"), col("text"),
        CrawlRefresh.gateBucket.as("gate_bucket"))
      .withColumn("pass_gate", col("gate_bucket").isNull)
    val idxDir = IncrementalDedup.persistedIndexDir(spark, dir)
    val dfreq = IncrementalDedup.dfSide(spark, dir,
      spark.read.parquet(s"$idxDir/df"))
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the disposition frame itself checkpoints its stages (lineage
      // truncation hides the scans), so pin the plan on the two
      // index-consuming joins directly: candidate (prefix buckets)
      // then verify (set buckets)
      val newRows = CrawlRefresh.indexRows(
        TextAnalysis.docShingleSets(gated.where(col("pass_gate"))),
        Some(dfreq), "new")
      val (oldPost, oldSets) = CrawlRefresh.corpusParts(spark, dir)
      val szBits = graft.functions.PairExpand.SzBits
      val plan = CrawlRefresh.dispoCandidates(newRows, oldPost)
        .withColumn("do_", shiftrightunsigned(col("mo"), szBits))
        .join(oldSets.select(col("doc_id").as("do_"), col("hs")), "do_")
        .queryExecution.executedPlan
      def isIndexScan(p: SparkPlan): Boolean = p match {
        case sc: FileSourceScanExec =>
          sc.relation.location.rootPaths.exists(_.toString.contains("graft_shingle-index-dir_"))
        case _ => false
      }
      var offenders = 0
      var indexScans = 0
      def check(p: SparkPlan, exSinceJoin: Boolean): Unit = {
        if (isIndexScan(p)) {
          indexScans += 1
          if (exSinceJoin) offenders += 1
        }
        val childEx = p match {
          case _: ShuffleExchangeExec => true
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
          case _ => exSinceJoin
        }
        p match { case a: AdaptiveSparkPlanExec => check(a.initialPlan, exSinceJoin); case _ => () }
        p.children.foreach(check(_, childEx))
        p.subqueries.foreach(check(_, false))
      }
      check(plan, exSinceJoin = false)
      assert(indexScans > 0, "the disposition plan must scan the persisted index")
      assert(offenders == 0,
        s"$offenders corpus-index scans sit under a re-exchange in the refresh plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
  }

  test("the refresh's df-side gate: broadcast and shuffle branches land identical accounting") {
    val default = CrawlRefresh.qCrawlRefresh(spark, dir).collect().map(_.toSeq)
    spark.conf.set(TextAnalysis.PrefixBroadcastMaxRefsKey, "1")
    try {
      val shuffled = CrawlRefresh.qCrawlRefresh(spark, dir).collect().map(_.toSeq)
      assert(shuffled.toSeq == default.toSeq,
        "forcing the df shuffle-join branch must not move the refresh accounting")
    } finally spark.conf.unset(TextAnalysis.PrefixBroadcastMaxRefsKey)
  }

  test("rag over the refreshed corpus: grown-index serving equals brute force over old ∪ admitted") {
    import spark.implicits._
    val got = Similarity.qRagRefreshed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val corpusIds = CrawlRefresh.corpusTable(spark, dir).read()
      .select(col("doc_id").as("vec_id"))
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val brute = e.join(corpusIds, Seq("vec_id"), "left_semi")
      .filter($"vec_id" =!= 0)
      .join(broadcast(q))
      .select($"vec_id",
        graft.functions.QuantizedCosine($"embedding", $"qvec").as("cosq"))
      .orderBy($"cosq".desc, $"vec_id").limit(5)
      .collect().zipWithIndex.map { case (r, i) => (i + 1L, r.getLong(0), r.getLong(1)) }
    assert(got.toSeq == brute.toSeq,
      s"index serving ≠ brute force:\n  idx=${got.toSeq}\n  bf=${brute.toSeq}")
    // non-vacuity: the increment really grew the index — admitted
    // (new-batch) docs' embeddings are being served
    val admitted = CrawlRefresh.corpusTable(spark, dir).read()
      .where(substring(col("source"), 4, 10).cast("int") >= 10)
      .select(col("doc_id").as("vec_id"))
    val grown = spark.read.parquet(Similarity.refreshedIndexDir(spark, dir))
      .join(admitted, Seq("vec_id"), "left_semi").count()
    assert(grown > 0, "the refreshed index must contain admitted docs' embeddings")
  }

  test("every _neardup_old rejection has a qualifying pair in the incremental miner") {
    CrawlRefresh.qCrawlRefresh(spark, dir).collect() // ensure fixtures exist
    // recompute dispositions via the standalone incremental miner: the
    // pair set restricted to (new, old) must cover every rejected id
    val pairs = IncrementalDedup.qIncrementalNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val oldIds = docs.where(srcNum < 10).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val newOldPartners = pairs.flatMap { case (a, b) =>
      if (oldIds(a) && !oldIds(b)) Some(b)
      else if (oldIds(b) && !oldIds(a)) Some(a) else None
    }.toSet
    // _neardup_old docs are the gate-passing subset of newOldPartners;
    // every one of them must have an old partner in the exact pair set
    val table = CrawlRefresh.corpusTable(spark, dir).read()
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rejectedNew = docs.where(srcNum >= 10).select("doc_id")
      .collect().map(_.getLong(0)).filterNot(table)
    // (rejections also include gate/within-batch cases; the check is
    // one-directional: an old-pair partner that passed the gate and
    // was NOT admitted must exist whenever the audit said so)
    val audit = CrawlRefresh.qCrawlRefresh(spark, dir).collect()
      .filter(_.getString(0) == "_neardup_old")
    if (audit.nonEmpty && audit.head.getLong(1) > 0) {
      assert(rejectedNew.exists(newOldPartners),
        "_neardup_old rejections must correspond to exact new×old pairs")
    }
  }
}
