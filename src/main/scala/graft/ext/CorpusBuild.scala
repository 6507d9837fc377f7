package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{IndexCache, Tables, TxTable}

/** ONE-CALL CORPUS BUILD — raw documents to the training-ready
  * artifact a pretraining run actually loads, every stage reusing the
  * standalone operator's exact semantics:
  *
  *   1. curate ([[Curation.curate]]: lang-id evidence, token/stopword
  *      gates, exact-dedup keeper election);
  *   2. greedy near-dup drop within the curated set (exact Jaccard ≥
  *      1/2 over 3-shingles; the larger doc_id of a pair drops — the
  *      [[CrawlRefresh]] within-batch rule);
  *   3. vocabulary trained on exactly the SURVIVING corpus
  *      ([[TextAnalysis.vocabOf]] — bounded loudly);
  *   4. every doc encoded to its token-id array (OOV → -1), the
  *      [[TextAnalysis.qEncodeIds]] semantics in array form;
  *   5. a seeded deterministic shuffle key ([[TextAnalysis
  *      .qShuffleOrder]]'s md5 recipe) fixes the training order;
  *   6. concatenate-and-cut sequence packing in THAT order
  *      ([[TextAnalysis.qTokenPacking]]'s window recurrence) assigns
  *      each doc its pack;
  *   7. the result lands as a source-partitioned ACID [[TxTable]] —
  *      versioned, time-travelable, vacuumable like any other table.
  *
  * Scale shape: gates map-side; the near-dup miner is the bounded
  * pair expansion (skew-capped upstream); the vocab broadcast is
  * valid by the enforced bound; encode is one doc_id-partitioned
  * aggregate; the pack window partitions by source. The artifact
  * write is the only table commit.
  */
object CorpusBuild {

  /** Build into `outPath`; returns the artifact table. Deterministic:
    * same corpus + params ⇒ byte-identical artifact content.
    */
  def run(docs0: DataFrame, outPath: String, budget: Int = 256,
          seed: String = "epoch0", minCount: Int = 10): TxTable = {
    val s = docs0.sparkSession
    import s.implicits._
    import graft.functions.PairExpand
    // 1. curate — keep the gate-passing keepers
    val kept = Curation.curate(docs0).select($"doc_id")
    val docs = docs0.join(kept, Seq("doc_id"))
      .select($"doc_id", $"source", $"text")
      .localCheckpoint(eager = false)
    // 2. greedy near-dup drop (larger id of any qualifying pair)
    val szMask = lit(PairExpand.SzMask)
    val idx = TextAnalysis.docShingleSets(docs)
      .select(TextAnalysis.packedMember.as("m"), explode($"hs").as("h"))
    val rejected = idx
      .groupBy($"h").agg(array_sort(collect_list($"m")).as("ms"))
      .where(size($"ms") > 1)
      .select(explode(PairExpand($"ms")).as("p"))
      .groupBy($"p.a".as("pa"), $"p.b".as("pb")).agg(count(lit(1)).as("common"))
      .where(lit(3) * $"common" >=
        $"pa".bitwiseAND(szMask) + $"pb".bitwiseAND(szMask))
      .select(shiftrightunsigned($"pb", PairExpand.SzBits).as("doc_id"))
      .distinct()
    val survivors = docs.join(rejected, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false)
    // 3+4. vocabulary on the survivors; encode to id arrays. The
    // vocab SHIPS WITH the artifact (sibling parquet `<outPath>.vocab`)
    // — training-serving consistency means a consumer must be able to
    // decode/extend the epoch with the exact vocabulary it was encoded
    // under ([[appendIncrement]] takes it back as `vocab`)
    val vocab = TextAnalysis.vocabOf(survivors, minCount)
      .select($"term", $"token_id")
    vocab.write.mode("overwrite").parquet(s"$outPath.vocab")
    val ids = survivors
      .select($"doc_id", posexplode(TextAnalysis.tokens($"text")))
      .withColumnRenamed("col", "term")
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"pos",
        coalesce($"token_id", lit(-1L)).as("tid")))).as("ps"))
      .select($"doc_id", expr("transform(ps, x -> x.tid)").as("token_ids"))
    // 5+6. shuffle order, then pack in that order
    val keyed = survivors.join(ids, Seq("doc_id"))
      .select($"doc_id", $"source",
        md5(concat(lit(seed), lit(":"), $"doc_id".cast("string")))
          .as("shuffle_key"),
        size($"token_ids").cast("long").as("n_tokens"), $"token_ids")
    val w = Window.partitionBy($"source").orderBy($"shuffle_key", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = keyed
      .withColumn("cum", sum($"n_tokens").over(w))
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $budget"))
      .drop("cum")
    // 7. the ACID artifact, partitioned by source, carrying its own
    // PROVENANCE as table properties — the reproducibility record a
    // model card cites: the exact build parameters plus an order-
    // independent content digest (xor of per-row md5 prefixes), so a
    // claimed rebuild is checkable against the stored manifest
    val t = new TxTable(s, outPath)
    t.append(packed, partitionBy = Seq("source"))
    val digest = contentDigest(t.read())
    Seq(
      "graft.corpus.budget" -> budget.toString,
      "graft.corpus.seed" -> seed,
      "graft.corpus.minCount" -> minCount.toString,
      "graft.corpus.contentDigest" -> digest,
    ).foreach { case (k, v) => t.setProperty(k, v) }
    t
  }

  /** Order/partitioning-independent digest of the artifact content:
    * xor-fold of each row's leading md5 bits over the serialized
    * (doc_id, pack_id, token_ids) triple. Commutative fold ⇒ the same
    * rows give the same digest regardless of layout.
    */
  private[ext] def contentDigest(artifact: DataFrame): String = {
    val x = artifact.select(
        conv(substring(md5(to_binary(concat_ws("|",
          col("doc_id"), col("pack_id"),
          concat_ws(",", col("token_ids"))), lit("utf-8"))), 1, 15), 16, 10)
          .cast("long").as("h"))
      // bit_xor over ZERO rows is NULL — an artifact where curation
      // rejected everything digests as 0, not an unboxing NPE
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("s")) // commutative, overflow-free
    f"${x.head().getLong(0)}%x"
  }

  /** DRIVER-HELD PER-SOURCE OFFSET STATE for a continuously-extended
    * artifact: the exact `sum(n_tokens)` per source, synced to the
    * artifact's commit log. First use pays one full aggregate; every
    * later sync folds only the CHANGE FEED since the last-seen
    * version — O(delta) per trigger, where re-aggregating the stored
    * artifact is O(artifact) (at 100 TB, a full table pass per
    * micro-batch). The map is bounded by the source universe (~dozens
    * at any corpus scale — the same bound [[qRankShards]] leans on).
    * A txn-skipped replay commits no version, so the fold sees each
    * append exactly once; a non-feed-readable range (compaction is
    * invisible; an overwrite throws) falls back to one full re-sync.
    */
  final class OffsetTracker(t: TxTable) {
    private var seenVersion: Long = -1L
    private val cum = scala.collection.mutable.Map.empty[String, Long]
    private[ext] var lastFoldMode: String = "none" // "full" | "delta"

    private def fold(rows: DataFrame): Unit =
      rows.groupBy(col("source")).agg(sum(col("n_tokens")).as("s"))
        .collect().foreach { r =>
          val src = r.getString(0)
          cum.update(src, cum.getOrElse(src, 0L) + r.getLong(1))
        }

    /** The synced offsets as a (source, cum0) frame. */
    def offsets(): DataFrame = {
      val s = org.apache.spark.sql.SparkSession.active
      val cur = t.version
      if (seenVersion < 0) {
        cum.clear(); fold(t.read()); seenVersion = cur; lastFoldMode = "full"
      } else if (cur > seenVersion) {
        try {
          fold(t.readChangeFeed(seenVersion, cur)
            .where(col(TxTable.ChangeTypeCol) === "insert"))
          lastFoldMode = "delta"
        } catch { case scala.util.control.NonFatal(_) =>
          cum.clear(); fold(t.read()); lastFoldMode = "full"
        }
        seenVersion = cur
      } else lastFoldMode = "none"
      import s.implicits._
      cum.toSeq.toDF("source", "cum0")
    }
  }

  /** INCREMENTAL EXTENSION — the nightly shape: newly-admitted docs
    * (e.g. [[CrawlRefresh.streamRefresh]] survivors) are encoded with
    * the artifact's FROZEN vocabulary (training-serving consistency:
    * an epoch's ids never move once a model has seen them; new terms
    * are UNK until the next full rebuild), shuffled under the same
    * seed, and packed CONTINUING each source's token stream — the
    * per-source cum offset is recovered EXACTLY from the stored
    * artifact (`sum(n_tokens)`), so pack ids extend the existing
    * sequence and old rows are never rewritten (append-only commit).
    * A continuous caller passes an [[OffsetTracker]] so each trigger
    * pays O(delta) for the offsets instead of re-aggregating the
    * whole stored artifact.
    */
  def appendIncrement(t: TxTable, newDocs: DataFrame, vocab: DataFrame,
                      budget: Int = 256, seed: String = "epoch0",
                      txn: Option[TxTable.TxnId] = None,
                      tracker: Option[OffsetTracker] = None): Unit = {
    val s = newDocs.sparkSession
    import s.implicits._
    // provenance guard: an increment must extend the artifact under
    // the SAME epoch seed and budget it was built with — a mismatch
    // silently interleaves two shuffle orders / pack grids
    val props = t.properties
    props.get("graft.corpus.seed").filter(_ != seed).foreach(p =>
      throw new IllegalArgumentException(
        s"increment seed '$seed' != artifact's provenance seed '$p' — " +
          "extend under the stamped epoch or rebuild"))
    props.get("graft.corpus.budget").filter(_ != budget.toString).foreach(p =>
      throw new IllegalArgumentException(
        s"increment budget $budget != artifact's provenance budget $p"))
    val ids = newDocs
      .select($"doc_id", posexplode(TextAnalysis.tokens($"text")))
      .withColumnRenamed("col", "term")
      .join(broadcast(vocab.select($"term", $"token_id")), Seq("term"), "left")
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"pos",
        coalesce($"token_id", lit(-1L)).as("tid")))).as("ps"))
      .select($"doc_id", expr("transform(ps, x -> x.tid)").as("token_ids"))
    val keyed = newDocs.join(ids, Seq("doc_id"))
      .select($"doc_id", $"source",
        md5(concat(lit(seed), lit(":"), $"doc_id".cast("string")))
          .as("shuffle_key"),
        size($"token_ids").cast("long").as("n_tokens"), $"token_ids")
    // exact per-source continuation offsets — from the tracker's
    // O(delta) fold when one is supplied, else one artifact aggregate
    val offsets = tracker.fold(
      t.read().groupBy($"source").agg(sum($"n_tokens").as("cum0")))(
      _.offsets())
    val w = Window.partitionBy($"source").orderBy($"shuffle_key", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = keyed
      .join(broadcast(offsets), Seq("source"), "left")
      .withColumn("cum",
        coalesce($"cum0", lit(0L)) + sum($"n_tokens").over(w))
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $budget"))
      .select($"doc_id", $"source", $"shuffle_key", $"n_tokens",
        $"token_ids", $"pack_id")
    t.append(packed, txn, partitionBy = Seq("source"))
  }

  /** The session's built artifact over the testdata corpus. */
  private[graft] def artifact(s: SparkSession, dir: String): TxTable =
    IndexCache.scratch(s, "corpus-build", dir) { p =>
      run(Tables.load(s, dir, "documents"), s"$p/artifact")
    }

  /** The EPOCH-0 artifact: built over the EXISTING corpus (src0-9),
    * then extended with every src10+ doc encoded under epoch 0's
    * FROZEN shipped vocabulary ([[appendIncrement]] — new-source
    * terms are UNK until the next full rebuild). The pre-increment
    * version rides along for the within-epoch immutability law.
    */
  private[graft] def epoch0Extended(s: SparkSession, dir: String): (TxTable, Long) =
    IndexCache.scratch(s, "corpus-epoch0", dir) { p =>
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val docs = Tables.load(s, dir, "documents")
      val t0 = run(docs.where(srcNum < 10), s"$p/artifact")
      val v0 = t0.version
      appendIncrement(t0, docs.where(srcNum >= 10)
        .select(col("doc_id"), col("source"), col("text")),
        s.read.parquet(s"$p/artifact.vocab"))
      (t0, v0)
    }

  /** EPOCH LIFECYCLE delta — guards the "ids never move within an
    * epoch / may move across epochs" law from the data side: epoch 0
    * (built on src0-9, extended with src10+ under the FROZEN vocab)
    * against epoch 1 (the full rebuild, which retrains the vocabulary
    * on the whole surviving corpus). Per source, over the docs common
    * to both epochs: the UNK mass each side assigns and the mass the
    * rebuild RECOVERS (new-corpus terms that crossed minCount and
    * became real ids — the reason full re-epochs exist), plus how
    * many docs' UNK count moved at all. One join + one aggregate over
    * the two artifacts; the raw corpus is never re-read.
    */
  def qCorpusEpochDelta(s: SparkSession, dir: String): DataFrame = {
    val nUnk = size(filter(col("token_ids"), x => x === -1L)).cast("long")
    val e0 = epoch0Extended(s, dir)._1.read()
      .select(col("doc_id"), col("source"), nUnk.as("u0"))
    val e1 = artifact(s, dir).read()
      .select(col("doc_id"), nUnk.as("u1"))
    e0.join(e1, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("u0")).as("unk_e0"),
        sum(col("u1")).as("unk_e1"),
        sum(col("u0") - col("u1")).as("unk_recovered"),
        sum(when(col("u0") =!= col("u1"), 1L).otherwise(0L)).as("n_unk_changed"))
      .orderBy(col("source"))
  }

  /** Graded read of the ARTIFACT ALONE: per-doc pack assignment,
    * token count, and UNK count recomputed from the stored id arrays
    * — any defect in any stage of the build breaks the hash.
    */
  def qCorpusBuild(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir).read()
      .select(col("doc_id"), col("source"), col("pack_id"),
        col("n_tokens"),
        size(filter(col("token_ids"), x => x === -1L)).cast("long").as("n_unk"))
      .orderBy(col("doc_id"))

  /** The PACK MANIFEST — the loader-facing view of the artifact: per
    * (source, pack), how many documents and tokens it holds and its
    * UNK mass. Under concatenate-and-cut, every pack spans exactly
    * `budget` positions except each source's last — the law the spec
    * asserts and a data loader relies on for fixed-length batching.
    * One aggregate over the artifact; the raw corpus is never read.
    */
  def qPackManifest(s: SparkSession, dir: String): DataFrame =
    artifact(s, dir).read()
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(size(filter(col("token_ids"), x => x === -1L)).cast("long")).as("n_unk"))
      .orderBy(col("source"), col("pack_id"))

  /** PER-RANK SHARD ASSIGNMENT — the loader-facing split a
    * distributed training fleet consumes: every (source, pack) is
    * assigned to one of `worldSize` ranks by
    * `(src_rank + pack_id) % W`, where `src_rank` is a dense rank
    * over the BOUNDED distinct-source list (sources are ~dozens at
    * any corpus scale, so the rank window runs over a tiny frame that
    * then BROADCASTS into the pack grid — never a global window over
    * the packs themselves, which at 100 TB are ~corpus/budget rows).
    * Convention-free: any source naming works — nothing is parsed out
    * of the name, so an unexpected format can never NULL a rank.
    * Because pack ids are contiguous per source, the modulo is
    * round-robin within every source — each rank draws from every
    * source and the token mass balances to within one pack per
    * source by construction. Reads the artifact alone.
    */
  def qRankShards(s: SparkSession, dir: String): DataFrame = {
    val worldSize = 4
    val packs = artifact(s, dir).read()
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val srcRank = packs.select(col("source")).distinct()
      .withColumn("src_rank", dense_rank()
        .over(org.apache.spark.sql.expressions.Window.orderBy(col("source")))
        .cast("long"))
    packs.join(broadcast(srcRank), "source")
      .select(
        pmod(col("src_rank") + col("pack_id"), lit(worldSize.toLong)).as("rank"),
        col("n_docs"), col("n_tokens"))
      .groupBy(col("rank"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus_build" -> (qCorpusBuild _),
    "q_pack_manifest" -> (qPackManifest _),
    "q_corpus_epoch_delta" -> (qCorpusEpochDelta _),
    "q_rank_shards" -> (qRankShards _))

  /** The whole build recomputed in SQL: curation mirror → pair mirror
    * → vocab mirror → encode counts → md5 order → packing window.
    * Parameterized by a CTE-name prefix and the input predicate so two
    * epochs (different corpus slices) can be rebuilt in one oracle —
    * and shared with [[CrawlRefresh]]'s `q_corpus_refreshed`, whose
    * oracle extends an epoch built here with the refresh's admitted
    * docs.
    */
  private[ext] def buildCtes(p: String = "", pred: String = "TRUE"): String =
    s"""${p}q AS (
         |  SELECT doc_id, source, text,
         |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         |    len(list_filter(string_split(text, ' '),
         |      x -> x IN ${TextAnalysis.stopwordsSql})) AS n_stopwords
         |  FROM documents WHERE $pred),
         |${p}fp AS (SELECT doc_id, md5(trim(text)) AS f FROM documents WHERE $pred),
         |${p}grp AS (SELECT f, MIN(doc_id) AS keeper FROM ${p}fp GROUP BY f),
         |${p}cur AS (
         |  SELECT ${p}q.doc_id, ${p}q.source, ${p}q.text
         |  FROM ${p}q JOIN ${p}fp ON ${p}q.doc_id = ${p}fp.doc_id
         |         JOIN ${p}grp ON ${p}fp.f = ${p}grp.f
         |  WHERE ${p}grp.keeper = ${p}q.doc_id
         |    AND ${p}q.n_tokens BETWEEN 20 AND 80 AND ${p}q.n_stopwords >= 1),
         |${p}ctok AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
         |  FROM ${p}cur),
         |${p}sh AS (
         |  SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS shingle
         |  FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM ${p}ctok WHERE len(t) >= 3)),
         |${p}sz AS (SELECT doc_id, COUNT(*) AS sz FROM ${p}sh GROUP BY doc_id),
         |${p}rej AS (
         |  SELECT DISTINCT p.b AS doc_id
         |  FROM (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
         |        FROM ${p}sh a JOIN ${p}sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2) p
         |  JOIN ${p}sz sa ON p.a = sa.doc_id JOIN ${p}sz sb ON p.b = sb.doc_id
         |  WHERE 3 * p.c >= sa.sz + sb.sz),
         |${p}surv AS (SELECT * FROM ${p}cur WHERE doc_id NOT IN (SELECT doc_id FROM ${p}rej)),
         |${p}stok AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
         |  FROM ${p}surv),
         |${p}voc AS (SELECT term FROM ${p}stok GROUP BY term HAVING COUNT(*) >= 10),
         |${p}enc AS (
         |  SELECT ${p}stok.doc_id,
         |    COUNT(*) AS n_tokens,
         |    CAST(SUM(CASE WHEN ${p}voc.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
         |  FROM ${p}stok LEFT JOIN ${p}voc ON ${p}stok.term = ${p}voc.term
         |  GROUP BY ${p}stok.doc_id),
         |${p}keyed AS (
         |  SELECT ${p}surv.doc_id, ${p}surv.source, ${p}enc.n_tokens, ${p}enc.n_unk,
         |    md5('epoch0:' || CAST(${p}surv.doc_id AS VARCHAR)) AS sk
         |  FROM ${p}surv JOIN ${p}enc ON ${p}surv.doc_id = ${p}enc.doc_id),
         |${p}packed AS (
         |  SELECT doc_id, source, n_tokens, n_unk,
         |    (SUM(n_tokens) OVER (PARTITION BY source ORDER BY sk, doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         |      // 256 AS pack_id
         |  FROM ${p}keyed)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_corpus_build" ->
      s"""WITH ${buildCtes()}
         |SELECT doc_id, source, CAST(pack_id AS BIGINT) AS pack_id,
         |  n_tokens, n_unk
         |FROM packed ORDER BY doc_id""".stripMargin,
    "q_pack_manifest" ->
      s"""WITH ${buildCtes()}
         |SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_unk) AS BIGINT) AS n_unk
         |FROM packed GROUP BY source, pack_id
         |ORDER BY source, pack_id""".stripMargin,
    // BOTH epochs rebuilt independently: epoch0 over src0-9 (prefix
    // a_) extended with every src10+ doc encoded under a_'s FROZEN
    // vocab, epoch1 the full rebuild (prefix b_); the delta aggregates
    // over the docs common to both
    "q_corpus_epoch_delta" ->
      s"""WITH ${buildCtes("a_", "CAST(substring(source, 4) AS INT) < 10")},
         |${buildCtes("b_")},
         |incterm AS (
         |  SELECT doc_id, source,
         |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
         |  FROM documents WHERE CAST(substring(source, 4) AS INT) >= 10),
         |inc AS (
         |  SELECT incterm.doc_id, incterm.source,
         |    CAST(SUM(CASE WHEN a_voc.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
         |  FROM incterm LEFT JOIN a_voc ON incterm.term = a_voc.term
         |  GROUP BY 1, 2),
         |e0 AS (
         |  SELECT doc_id, source, n_unk FROM a_packed
         |  UNION ALL SELECT doc_id, source, n_unk FROM inc),
         |e1 AS (SELECT doc_id, n_unk FROM b_packed),
         |j AS (
         |  SELECT e0.source, e0.doc_id, e0.n_unk AS u0, e1.n_unk AS u1
         |  FROM e0 JOIN e1 ON e0.doc_id = e1.doc_id)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(u0) AS BIGINT) AS unk_e0,
         |  CAST(SUM(u1) AS BIGINT) AS unk_e1,
         |  CAST(SUM(u0 - u1) AS BIGINT) AS unk_recovered,
         |  CAST(COUNT(*) FILTER (u0 <> u1) AS BIGINT) AS n_unk_changed
         |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // same arithmetic rank assignment over the recomputed packs
    "q_rank_shards" ->
      s"""WITH ${buildCtes()},
         |pk AS (
         |  SELECT source, pack_id, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |  FROM packed GROUP BY source, pack_id),
         |sr AS (
         |  SELECT source, CAST(DENSE_RANK() OVER (ORDER BY source) AS BIGINT) AS src_rank
         |  FROM (SELECT DISTINCT source FROM pk))
         |SELECT (sr.src_rank + CAST(pk.pack_id AS BIGINT)) % 4 AS rank,
         |  COUNT(*) AS n_packs,
         |  CAST(SUM(pk.n_docs) AS BIGINT) AS n_docs,
         |  CAST(SUM(pk.n_tokens) AS BIGINT) AS n_tokens
         |FROM pk JOIN sr USING (source) GROUP BY 1 ORDER BY rank""".stripMargin)
}
