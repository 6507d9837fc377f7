package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The composed CURATION pass a training-data pipeline runs before
  * tokenization: language gate + quality gate + exact-dedup keeper,
  * in one job. Each stage reuses the standalone operator's exact
  * semantics (q_lang_id / q_text_quality / q_dedup_exact), so the
  * composition is oracle-checkable by joining their SQL mirrors.
  *
  * Scale shape: lang-id and the quality counters are pure map
  * expressions; the only data shuffle is the fingerprint window that
  * elects the keeper (hash partition on a 16-byte md5 — the same one
  * shuffle q_dedup_exact pays), and both window aggregates (keeper +
  * group size) share that single exchange. The WHOLE corpus crosses
  * it: the gates reference window outputs and non-key columns, so
  * they evaluate after the window — and must (keeper election has to
  * see gate-failing docs, or a filtered-out keeper would silently
  * promote its duplicate). To gate before electing keepers, filter
  * the input DataFrame instead — a different pipeline, not a plan
  * optimization.
  */
object Curation {

  /** Weight-table row bound below which [[classify]] broadcasts the
    * trained per-(token, class) weights; above it scoring takes the
    * shuffle join. 5M rows of (tk, cls, DECIMAL) ≈ ≤300 MB.
    */
  val ClassifyBroadcastMaxWeightsKey = "spark.graft.classify.broadcastMaxWeights"
  val ClassifyBroadcastMaxWeightsDefault: Long = 5_000_000L

  /** Same gate for [[qDsirWeights]]' O(vocabulary) weight table. */
  val DsirBroadcastMaxWeightsKey = "spark.graft.dsir.broadcastMaxWeights"

  /** Checkpoint an O(vocab)-scale weight table (it is consumed once
    * either way) and decide its scoring-join side from the EXACT row
    * count against the conf-keyed bound: the broadcast below it, the
    * plain (shuffle) frame above — the enforced form of "broadcast
    * doesn't hold at 100 TB vocabularies".
    */
  private def gatedWeights(weights0: DataFrame, key: String): DataFrame = {
    val w = weights0.localCheckpoint(eager = false)
    val maxW = w.sparkSession.conf
      .get(key, ClassifyBroadcastMaxWeightsDefault.toString).toLong
    if (w.count() <= maxW) broadcast(w) else w
  }

  /** Curated corpus: docs that (a) are their fingerprint group's
    * keeper (min doc_id per md5(trim(text)) — exact dedup), (b) have
    * `minTokens <= n_tokens <= maxTokens`, (c) contain at least
    * `minStopwords` stopword hits. Carries the per-doc evidence
    * (predicted language, counters, duplicate-group size).
    */
  def curate(docs: DataFrame,
             minTokens: Long = 20, maxTokens: Long = 80,
             minStopwords: Long = 1): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val w = Window.partitionBy(TextAnalysis.contentFingerprint(col("text")))
    LangTools.withLangId(docs)
      // both window aggregates in ONE select → one Window operator,
      // one exchange (chained withColumn planned two separate
      // Window+Exchange pairs: the recomputed md5 key defeats reuse)
      .select(col("doc_id"), col("lang_pred"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isin(TextAnalysis.qualityStopwords: _*)))
          .cast("long").as("n_stopwords"),
        min(col("doc_id")).over(w).as("keeper_id"),
        count(lit(1)).over(w).cast("long").as("n_dupes"))
      .where(col("keeper_id") === col("doc_id") &&
        col("n_tokens").between(minTokens, maxTokens) &&
        col("n_stopwords") >= minStopwords)
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
        col("n_stopwords"), col("n_dupes"))
  }

  def qCuration(s: SparkSession, dir: String): DataFrame =
    curate(Tables.load(s, dir, "documents")).orderBy(col("doc_id"))

  /** DSIR-shaped importance weighting ("Data Selection via Importance
    * Resampling", Xie et al. 2023): score every raw document by how
    * much its unigram distribution resembles a TARGET slice (here the
    * src0/src1 sources), then keep the top-N — the data-selection pass
    * that upsamples target-like documents before training. Per-token
    * weight is the add-one-smoothed count ratio
    * `(c_target + 1) / (c_raw + 1)`; a document's importance is the
    * sum of its tokens' weights. (The paper sums LOG ratios; a sum of
    * ratios keeps the same "target-like tokens score high" structure
    * while staying engine-exact — IEEE divide + decimal-cast sums —
    * where ln() differs across engines in final ULPs and would break
    * the oracle hash. The selection threshold is rank, not the
    * absolute score, so the substitution changes no contract.)
    *
    * Scale shape: one tokenize+explode pass feeds both the count
    * aggregate and the scoring join; the weight table is
    * O(vocabulary) and BROADCAST (at 100 TB vocab with hashed n-gram
    * features — the paper's 10k buckets — it stays broadcastable by
    * construction); the per-doc sum is the one data shuffle, and
    * top-N plans as TakeOrdered, never a global sort.
    */
  def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tok = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tk"))
    val weights = tok.groupBy(col("tk"))
      .agg(
        sum(when(col("source").isin("src0", "src1"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .select(col("tk"),
        ((col("ct") + lit(1.0d)) / (col("cr") + lit(1.0d)))
          .cast(DecimalType(18, 8)).as("w"))
    tok.join(gatedWeights(weights, DsirBroadcastMaxWeightsKey), "tk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("w")).cast("double").as("importance"))
      .orderBy(col("importance").desc, col("doc_id"))
      .limit(50)
  }

  /** Naive-Bayes-shaped LINEAR TEXT CLASSIFIER, trained and evaluated
    * in one job: per-class token weights — the smoothed likelihood
    * ratio `P(tk|cls) / P(tk)` as the all-integer product ratio
    * `((ct+1)(n_all+v)) / ((n_cls+v)(cr+1))`, so class priors cancel
    * (a raw per-class count ratio just re-ranks by class size) —
    * are fit on the md5-hash TRAIN half and applied to the TEST half
    * as sums of ratios rather than sums of log-likelihoods, for the
    * [[qDsirWeights]] engine-exactness reason; the output is the
    * (actual, predicted) confusion matrix.
    * This is the fastText-tier model-based quality/domain classifier
    * of a curation stack (label "wiki-like" documents, route by
    * predicted domain), built from public ingredients only.
    *
    * Scale shape: ONE tokenize+explode pass feeds both the training
    * counts and the scoring join; the weight table is O(vocab ×
    * classes) and BROADCAST (at 100 TB, hash tokens into a fixed
    * bucket count to bound it by construction — the fastText trick);
    * scoring is that broadcast join plus one (doc, class) aggregate;
    * the argmax is a per-doc window over |classes| rows riding the
    * aggregate's own partitioning. The train/test split is by md5
    * prefix — rerun- and partitioning-stable, like
    * [[TextAnalysis.qHashSplit]].
    *
    * Determinism: weights are one IEEE divide quantized to
    * DECIMAL(18,8) (order-independent sums, identical in DuckDB);
    * argmax ties break on the class name.
    */
  def classify(docs: DataFrame, labelCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tok = docs
      .select(col("doc_id"), col(labelCol).as("label"),
        (substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) < "8")
          .as("is_train"),
        explode(TextAnalysis.tokens(col("text"))).as("tk"))
    val train = tok.where(col("is_train"))
    // ONE token-level aggregate; the per-token totals, per-class
    // totals, and the (vocab, corpus-size) scalar all derive from the
    // O(vocab × classes) result — never a second pass over the tokens
    val classCounts = train.groupBy(col("tk"), col("label").as("cls"))
      .agg(count(lit(1)).as("ct"))
    val tokTotals = classCounts.groupBy(col("tk")).agg(sum(col("ct")).as("cr"))
    val corpus = tokTotals.agg(count(lit(1)).as("v"), sum(col("cr")).as("n_all"))
    val classes = classCounts.groupBy(col("cls")).agg(sum(col("ct")).as("n_cls"))
    // w = ((ct+1)(n_all+v)) / ((n_cls+v)(cr+1)): smoothed
    // P(tk|cls)/P(tk). Integer products (exact doubles below 2^53 —
    // at 100 TB token counts, hash tokens into buckets and fit on a
    // sample to stay inside that bound), ONE IEEE divide, quantized
    // to decimal so score sums are order-independent.
    // corpus (1 row) and classes (|classes| rows) broadcast always;
    // classCounts is O(vocab × classes) like the weight table itself,
    // so NO planner hint — AQE converts the shuffle join to broadcast
    // at runtime exactly when the observed size allows it
    val weights = tokTotals
      .crossJoin(broadcast(corpus))
      .crossJoin(broadcast(classes))
      .join(classCounts, Seq("tk", "cls"), "left")
      .select(col("tk"), col("cls"),
        (((coalesce(col("ct"), lit(0L)) + lit(1L)) * (col("n_all") + col("v"))).cast("double") /
          ((col("n_cls") + col("v")) * (col("cr") + lit(1L))).cast("double"))
          .cast(DecimalType(18, 8)).as("w"))
    // SIZE-GATED broadcast ([[gatedWeights]]): the weight table is
    // O(vocab × classes) and unbounded at 100 TB vocabularies (the
    // fastText hash-bucket trick is the other lever: it bounds vocab
    // by construction before this gate ever trips)
    val scored = tok.where(!col("is_train"))
      .join(gatedWeights(weights, Curation.ClassifyBroadcastMaxWeightsKey), Seq("tk"))
      .groupBy(col("doc_id"), col("label"), col("cls"))
      .agg(sum(col("w")).as("score"))
    // argmax as an AGGREGATE, not a rank window: min over (-score, cls)
    // is exactly (score desc, cls asc) rank 1 — a hash agg instead of
    // an exchange + partition sort + row_number + filter
    scored
      .groupBy(col("doc_id"), col("label"))
      .agg(min_by(col("cls"), struct(negate(col("score")), col("cls"))).as("cls"))
      .groupBy(col("label"), col("cls"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("label"), col("cls").as("pred_label"), col("n_docs"))
      .orderBy(col("label"), col("pred_label"))
  }

  /** Bigram-count-table row bound below which [[qLmQuality]]
    * broadcasts the trained LM counts; above it scoring takes the
    * shuffle join (the [[ClassifyBroadcastMaxWeightsKey]] contract —
    * a 100 TB bigram vocabulary does not broadcast).
    */
  val LmBroadcastMaxWeightsKey = "spark.graft.lm.broadcastMaxWeights"

  /** CCNet-shaped LM QUALITY FILTER (Wenzek et al. 2020): fit a word-
    * bigram language model on the md5 TRAIN half of the corpus, score
    * every held-out document by how probable its bigrams are under
    * that model, and flag the above-corpus-average half — the
    * perplexity-bucketing pass (head/middle/tail) every web-corpus
    * curation stack runs before training. Per-bigram weight is the
    * add-one-smoothed conditional `(c(w1,w2)+1)/(c(w1)+V)`; an unseen
    * context backs off to `1/V`; a document's score is the MEAN of
    * its bigram weights, and the flag compares it to the all-test-
    * bigrams mean. (CCNet averages LOG probabilities; the arithmetic
    * mean keeps the same "improbable bigrams score low" structure
    * while staying engine-exact — the [[qDsirWeights]] ln()-avoidance
    * convention. CCNet's thresholds are corpus-relative quantiles, so
    * the monotone-surrogate substitution changes no contract.)
    *
    * Scale shape: ONE tokenize+bigram-explode pass feeds both the
    * training counts and the scoring joins; the model is the
    * O(bigram-vocab) count table — SIZE-GATED broadcast via
    * [[LmBroadcastMaxWeightsKey]], shuffle join above the bound —
    * plus the O(vocab) context table derived from it (never a second
    * corpus pass) and a 1-row broadcast for V; the per-doc mean is
    * the one data shuffle, and the corpus mean folds the per-doc
    * DECIMAL sums (exact, order-independent), never re-reads tokens.
    *
    * Determinism: each weight is integer counts through ONE IEEE
    * divide quantized to DECIMAL(18,8) (the [[classify]] convention);
    * per-doc and corpus sums are decimal (exact both engines); the
    * two final divides are double ops on identical inputs. Documents
    * with fewer than 2 tokens have no bigrams and are absent by
    * construction.
    */
  def qLmQuality(s: SparkSession, dir: String): DataFrame = {
    val perDoc = lmPerDoc(s, dir)
    val corpus = perDoc.agg(sum(col("sw")).as("tw"), sum(col("n_bigrams")).as("tn"))
    perDoc.crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sw").cast("double") / col("n_bigrams").cast("double")).as("lm_score"),
        when(col("sw").cast("double") / col("n_bigrams").cast("double") >
          col("tw").cast("double") / col("tn").cast("double"), 1L)
          .otherwise(0L).as("above_avg"))
      .orderBy(col("doc_id"))
  }

  /** Per-held-out-doc bigram-LM mass: `(doc_id, n_bigrams, sw)` where
    * `sw` is the exact DECIMAL sum of the doc's per-bigram weights —
    * the shared front half of [[qLmQuality]] and [[qLmBuckets]].
    */
  private def lmPerDoc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bg = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        (substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) < "8")
          .as("is_train"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("is_train"), explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), " +
          "(a, b) -> struct(a, b))")).as("p"))
      .select(col("doc_id"), col("is_train"),
        col("p.a").as("w1"), col("p.b").as("w2"))
    // ONE corpus-pass training aggregate, checkpointed AND memoized per
    // (session, dir) — the trained LM is a model artifact (the same
    // train-once lifecycle as the PQ codebooks and the kNN edge list):
    // both graded consumers (q_lm_quality, q_lm_buckets) score from one
    // trained model instead of re-fitting it per query. The count()
    // that materializes it doubles as the broadcast gate.
    val (counts, nWeights) = graft.core.IndexCache.memo(
      s"lm-counts:${s.sparkContext.applicationId}:$dir") {
      val c = bg.where(col("is_train"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("ct"))
        .localCheckpoint(eager = false)
      (c, Long.box(c.count()))
    }
    val maxW = s.conf.get(LmBroadcastMaxWeightsKey,
      ClassifyBroadcastMaxWeightsDefault.toString).toLong
    val broadcastable = nWeights <= maxW
    val countsSide = if (broadcastable) broadcast(counts) else counts
    val contexts = counts.groupBy(col("w1")).agg(sum(col("ct")).as("c1"))
    // contexts is strictly smaller than the gated count table, so it
    // inherits the same side decision without a second count job
    val ctxSide = if (broadcastable) broadcast(contexts) else contexts
    val vocab = contexts.agg(count(lit(1)).as("v"))
    val scored = bg.where(!col("is_train"))
      .join(countsSide, Seq("w1", "w2"), "left")
      .join(ctxSide, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        when(col("c1").isNotNull,
          ((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
            (col("c1") + col("v")).cast("double")).cast(DecimalType(18, 8)))
          .otherwise(
            (lit(1L).cast("double") / col("v").cast("double"))
              .cast(DecimalType(18, 8))).as("w"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w")).as("sw"))
  }

  /** CCNet's actual OUTPUT SHAPE: per-LANGUAGE head/middle/tail
    * perplexity buckets (Wenzek et al. 2020 §4.4 — thresholds are
    * per-language score terciles, because "probable under the LM"
    * is not comparable across languages). Each held-out doc gets its
    * language's tercile by exact rank: head = best-scoring third,
    * tail = worst.
    *
    * Scale shape — the naive per-language rank window is ONE TASK PER
    * LANGUAGE (a handful of partitions sorting ~33 TB each at 100 TB),
    * so the exact rank is computed the [[graft.ext.ScaleOps
    * .qOpenIntervals]] way instead: partition by (lang, score-band)
    * — `band = floor(score·1024)`, order-consistent with the score
    * because banding is monotone — rank within each band, then add
    * the broadcast count of all better bands. Parallelism becomes
    * langs × occupied-bands; the only unpartitioned window runs over
    * the O(langs × 1024) band-count table. Banding changes NOTHING:
    * the oracle is the plain per-language row_number.
    *
    * Determinism: scores are single IEEE divides on exact decimal
    * sums ([[qLmQuality]]'s convention); floor on a double is IEEE-
    * exact in both engines; rank ties break by doc_id; bucket edges
    * are integer cross-multiplication (`3·rank ≤ n`), no division.
    */
  def qLmBuckets(s: SparkSession, dir: String): DataFrame = {
    val perDoc = lmPerDoc(s, dir)
    val lang = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
    val scored = perDoc.join(lang, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        (col("sw").cast("double") / col("n_bigrams").cast("double")).as("lm_score"),
        floor(col("sw").cast("double") / col("n_bigrams").cast("double") * lit(1024d))
          .cast("int").as("band"))
    // band-count table: O(langs × 1024) rows — the only window that
    // sees it whole; offsets = docs in strictly-better bands
    val bandW = Window.partitionBy(col("lang"))
      .orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val bands = scored.groupBy(col("lang"), col("band"))
      .agg(count(lit(1)).as("bn"))
      .select(col("lang"), col("band"),
        coalesce(sum(col("bn")).over(bandW), lit(0L)).as("offset"),
        sum(col("bn")).over(Window.partitionBy(col("lang"))).as("nl"))
    val inBand = Window.partitionBy(col("lang"), col("band"))
      .orderBy(col("lm_score").desc, col("doc_id"))
    scored.join(broadcast(bands), Seq("lang", "band"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("lm_score"),
        (col("offset") + row_number().over(inBand)).as("rk"), col("nl"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("lm_score"),
        when(col("rk") * 3 <= col("nl"), "head")
          .when(col("rk") * 3 <= col("nl") * 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** TEMPERATURE-SCALED SOURCE MIXING (the exponent-smoothed
    * multinomial of multilingual/multi-source recipes, e.g. XLM-R's
    * `p_i ∝ n_i^α` with α = 0.5): derive, per source, the raw corpus
    * share, the temperature share, and the upsampling factor a
    * sampler would apply — the weight table [[TextAnalysis
    * .qSourceMix]]'s rate filter then consumes. Shares weigh each
    * source by its BYTE MASS (`sum(n_chars)`), not its document
    * count — recipes balance tokens, and the testdata's per-source
    * doc counts are uniform by construction. Pure aggregate pipeline:
    * one corpus hash-agg to |sources| rows, a 1-row broadcast of the
    * totals, zero further shuffles — the same shape at 100 TB.
    *
    * Determinism: `sqrt` is an IEEE basic op (correctly rounded in
    * both engines) quantized once to DECIMAL(18,8); the share
    * denominators are exact integer/decimal sums; each share is one
    * double divide, and the upsample factor one more on those exact
    * doubles.
    */
  def qMixTemperature(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val per = Tables.load(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("mass"))
      .select(col("source"), col("n_docs"), col("mass"),
        sqrt(col("mass").cast("double")).cast(DecimalType(18, 8)).as("sq"))
    val tot = per.agg(sum(col("mass")).as("tm"), sum(col("sq")).as("ts"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("mass"),
        (col("mass").cast("double") / col("tm").cast("double")).as("raw_share"),
        (col("sq").cast("double") / col("ts").cast("double")).as("temp_share"),
        ((col("sq").cast("double") / col("ts").cast("double")) /
          (col("mass").cast("double") / col("tm").cast("double"))).as("upsample"))
      .orderBy(col("source"))
  }

  /** The duplicated long line of the repetition-noise synthesis: 60
    * DISTINCT words, so its one duplicate carries heavy char mass
    * (trips the dup-line-CHAR rule) while staying 1 dup in 5 lines
    * (below the dup-line-COUNT threshold) and repeating no bigram
    * more than twice (below the top-bigram threshold).
    */
  private[ext] val repLongLine: String = (1 to 60).map(i => s"zq$i").mkString(" ")

  /** The repetition-noise synthesis [[qGopherRepetition]] grades
    * against — each trigger planted on its own modulus class:
    * `%5==0` repeats one short line 5×, `%7==0` duplicates
    * [[repLongLine]] once among distinct pad lines, `%11==0` appends
    * one 2-gram 16×. Both engines synthesize identically.
    */
  private def repNoisy: Column = {
    val d = col("doc_id")
    val base = col("text")
    val dupLines = Seq.fill(5)("dup line one").mkString("\n")
    val withDupLines =
      when(d % 5 === 0, concat(lit(dupLines + "\n"), base)).otherwise(base)
    // the bigram chunk lands BEFORE the %7 wrap so composed classes
    // (%77, %35·11, …) keep the two long lines byte-identical
    val withBigram = when(d % 11 === 0,
      concat(withDupLines, lit(" " + Seq.fill(64)("alpha beta").mkString(" "))))
      .otherwise(withDupLines)
    when(d % 7 === 0,
      concat(lit(repLongLine + "\n"), withBigram,
        lit("\npad one\npad two\n" + repLongLine)))
      .otherwise(withBigram)
  }

  /** Max char MASS over repeated 2-grams — `max(count·len | count ≥ 2)`,
    * 0 when no bigram repeats — computed ENTIRELY MAP-SIDE: sort the
    * doc's bigram array, walk equal runs with one `aggregate` HOF.
    * Replaces the (doc_id, bigram) keyed aggregate + per-doc max +
    * join-back (2 shuffles + a join per evaluation): a document is
    * already ONE row, so its bigram multiset never needs to leave the
    * task — the per-doc sort is O(n log n) in the row's own task and
    * the memory envelope is the row itself, unchanged. Exact integer
    * arithmetic, same values as the keyed form (asserted in
    * CurationSpec).
    */
  private[ext] def topBigramMass(ws: Column): Column = {
    val bgs = when(size(ws) >= 2,
      zip_with(
        slice(ws, lit(1), size(ws) - 1),
        slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    // fold the finished run into best: run ≥ 2 contributes run·len(prev)
    def close(acc: Column): Column = greatest(acc.getField("best"),
      when(acc.getField("run") >= 2L,
        acc.getField("run") * length(acc.getField("prev")).cast("long"))
        .otherwise(lit(0L)))
    aggregate(array_sort(bgs),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) =>
        when(x === acc.getField("prev"),
          struct(acc.getField("prev").as("prev"),
            (acc.getField("run") + 1L).as("run"),
            acc.getField("best").as("best")))
        .otherwise(
          struct(x.as("prev"), lit(1L).as("run"), close(acc).as("best"))),
      acc => close(acc))
  }

  /** GOPHER-REPETITION quality filter (Rae et al. 2021, Appendix A —
    * the repetition half of the rule family, complementing the
    * structural [[qGopherRules]]): documents dominated by repeated
    * LINES or repeated N-GRAMS are boilerplate/spam, gated by pure
    * integer cross-multiplications so the flags are engine-exact:
    *
    *   - duplicate-line fraction ≥ 3/10: `10·(L − L_distinct) ≥ 3·L`;
    *   - duplicate-line CHAR fraction ≥ 1/5 (chars in beyond-first
    *     occurrences over all line chars): `5·dupChars ≥ lineChars`;
    *   - top repeated-2-gram char mass ≥ 1/2 of the word chars:
    *     `2·max(count·len | count ≥ 2) ≥ Σ wordLen` (the max char
    *     MASS over repeated bigrams — deterministic with no
    *     most-frequent tie rule; thresholds are parameters of the
    *     METHOD, tuned to this corpus as in [[qGopherRules]]).
    *
    * Rules pass vacuously on empty denominators. ALL counters are
    * higher-order column math (map-only) — the bigram rule included,
    * via [[topBigramMass]]'s sorted-run walk, so the whole filter is
    * one map pass plus the output sort (it was a (doc_id, bigram)
    * keyed agg + per-doc max + join-back: 3 shuffles).
    */
  def qGopherRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), repNoisy.as("t"))
      .localCheckpoint(eager = false)
    val words = TextAnalysis.tokens(regexp_replace(col("t"), "\n", " "))
    val lines = filter(split(col("t"), "\n"), l => l =!= lit(""))
    val lineChars = aggregate(lines, lit(0L), (a, x) => a + length(x))
    val distinctLineChars =
      aggregate(array_distinct(lines), lit(0L), (a, x) => a + length(x))
    val counters = docs.select(col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      (size(lines) - size(array_distinct(lines))).cast("long").as("n_dup_lines"),
      lineChars.as("chars_lines"),
      (lineChars - distinctLineChars).as("chars_dup_lines"),
      aggregate(words, lit(0L), (a, x) => a + length(x)).as("sum_word_len"),
      topBigramMass(words).as("top_bigram_mass"))
    counters
      .select(col("*"),
        (col("n_lines") > 0L &&
          lit(10L) * col("n_dup_lines") >= lit(3L) * col("n_lines"))
          .cast("long").as("r_dup_lines"),
        (col("chars_lines") > 0L &&
          lit(5L) * col("chars_dup_lines") >= col("chars_lines"))
          .cast("long").as("r_dup_line_chars"),
        (col("sum_word_len") > 0L &&
          lit(2L) * col("top_bigram_mass") >= col("sum_word_len"))
          .cast("long").as("r_top_bigram"))
      .withColumn("passes",
        (col("r_dup_lines") === 0L && col("r_dup_line_chars") === 0L &&
          col("r_top_bigram") === 0L).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** The deterministic noise synthesis the GOPHER-RULES filter grades
    * against — the testdata text is clean word soup, so each rule's
    * trigger is PLANTED on its own modulus class (the [[TextAnalysis
    * .qCleanText]] convention): `%5==0` gains symbol-only words,
    * `%7==0` becomes a mostly-bulleted line block, `%11==0` gains
    * ellipsis-terminated lines. Both engines synthesize identically.
    */
  private def gopherNoisy: Column = {
    val d = col("doc_id")
    val base = col("text")
    val withSym = when(d % 5 === 0, concat(base, lit(" ### #!# ###"))).otherwise(base)
    val withBul = when(d % 7 === 0,
      concat(lit("- alpha beta\n- gamma delta\n- epsilon zeta\n"), withSym))
      .otherwise(withSym)
    when(d % 11 === 0,
      concat(withBul, lit("\nteaser one...\ntrailing two...")))
      .otherwise(withBul)
  }

  /** GOPHER-RULES quality filter (Rae et al. 2021, Appendix A) — the
    * repetition-free structural gates of the Gopher/MassiveWeb
    * pipeline, re-expressed as pure integer column math so the flags
    * are engine-exact (every ratio threshold is an integer
    * cross-multiplication, never a double compare):
    *
    *   - word count within bounds (corpus-tuned 20..100000);
    *   - mean word length in [3, 10] chars: `3n ≤ Σlen ≤ 10n`;
    *   - symbol-word ratio ≤ 1/10 (words containing `#`): `10s ≤ n`;
    *   - bulleted-line ratio < 1/2 (lines starting `- `): `2b < L`;
    *   - ellipsis-line ratio ≤ 3/10 (lines ending `...`): `10e ≤ 3L`;
    *   - ≥ 1 stopword ([[TextAnalysis.qualityStopwords]]).
    *
    * Map-only over the noisy synthesis; `passes` is the conjunction —
    * the doc set a MassiveWeb-style crawl keeps. Thresholds are
    * parameters of the METHOD (Gopher's own are 0.9/0.3 etc. tuned to
    * web text); the integer-cross-multiplication recipe is the part
    * that survives any threshold at 100 TB.
    */
  /** The Gopher structural counters of a text column — every ratio is
    * later compared by integer cross-multiplication, so the counters
    * are the full engine-exact surface. Shared by [[qGopherRules]]
    * and the composed crawl refresh's quality gate
    * ([[CrawlRefresh]]), which must never drift from each other.
    */
  private[ext] final case class GopherCounts(
      nWords: Column, sumLen: Column, nSym: Column,
      nLines: Column, nBullet: Column, nEllipsis: Column, nStop: Column)

  private[ext] def gopherCounts(text: Column): GopherCounts = {
    val words = TextAnalysis.tokens(regexp_replace(text, "\n", " "))
    val lines = filter(split(text, "\n"), l => l =!= lit(""))
    GopherCounts(
      nWords = size(words).cast("long"),
      sumLen = aggregate(words, lit(0L), (acc, w) => acc + length(w)),
      nSym = size(filter(words, w => w.contains("#"))).cast("long"),
      nLines = size(lines).cast("long"),
      nBullet = size(filter(lines, l => l.startsWith("- "))).cast("long"),
      nEllipsis = size(filter(lines, l => l.endsWith("..."))).cast("long"),
      nStop = size(filter(words,
        w => w.isin(TextAnalysis.qualityStopwords: _*))).cast("long"))
  }

  def qGopherRules(s: SparkSession, dir: String): DataFrame = {
    val c = gopherCounts(gopherNoisy)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), c.nWords.as("n_words"), c.sumLen.as("sum_word_len"),
        c.nSym.as("n_symbol_words"), c.nLines.as("n_lines"),
        c.nBullet.as("n_bullet_lines"), c.nEllipsis.as("n_ellipsis_lines"),
        c.nStop.as("n_stopwords"))
      .select(col("*"),
        when(col("n_words").between(20L, 100000L) &&
          col("sum_word_len") >= lit(3L) * col("n_words") &&
          col("sum_word_len") <= lit(10L) * col("n_words") &&
          lit(10L) * col("n_symbol_words") <= col("n_words") &&
          lit(2L) * col("n_bullet_lines") < col("n_lines") &&
          lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines") &&
          col("n_stopwords") >= 1L, 1L).otherwise(0L).as("passes"))
      .orderBy(col("doc_id"))
  }

  /** [[classify]] against the `lang` column of the documents table.
    * NOTE the testdata's `lang` label is INDEPENDENT of its token
    * distribution (verified: per-token counts are uniform across
    * langs), so the confusion matrix here is near-chance BY
    * CONSTRUCTION — the oracle checks the trained-weight MECHANISM
    * bit-for-bit, and `CurationSpec` proves the same code separates a
    * corpus whose labels do follow the text.
    */
  def qClassify(s: SparkSession, dir: String): DataFrame =
    classify(Tables.load(s, dir, "documents"), "lang")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curation" -> (qCuration _),
    "q_dsir_weights" -> (qDsirWeights _),
    "q_classify" -> (qClassify _),
    "q_lm_quality" -> (qLmQuality _),
    "q_lm_buckets" -> (qLmBuckets _),
    "q_mix_temperature" -> (qMixTemperature _),
    "q_gopher_rules" -> (qGopherRules _),
    "q_gopher_repetition" -> (qGopherRepetition _),
  )

  /** Oracle: the three stage mirrors joined — lang-id CASE-chain
    * argmax, integer quality counters, min-doc_id-per-fingerprint
    * keeper election.
    */
  val oracle: Map[String, String] = Map(
    // add-one count-ratio weights summed per doc — all arithmetic is
    // IEEE divide + decimal-cast sums, exact in both engines
    "q_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
        |  FROM documents),
        |c AS (
        |  SELECT tk,
        |    CAST(SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    COUNT(*) AS cr
        |  FROM tok GROUP BY tk),
        |w AS (SELECT tk, CAST((ct + 1.0) / (cr + 1.0) AS DECIMAL(18,8)) AS w FROM c)
        |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(w) AS DOUBLE) AS importance
        |FROM tok JOIN w USING (tk)
        |GROUP BY doc_id ORDER BY importance DESC, doc_id LIMIT 50""".stripMargin,
    // the same repetition-noise synthesis + integer-exact flags: line
    // counters via list_distinct, the top repeated-bigram char mass
    // via a (doc_id, bigram) count with HAVING >= 2
    "q_gopher_repetition" -> {
      val dupLinesSql = Seq.fill(5)("'dup line one'").mkString(" || chr(10) || ")
      val bigramChunkSql = "' " + Seq.fill(64)("alpha beta").mkString(" ") + "'"
      s"""WITH noisy AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 7 = 0
         |          THEN '$repLongLine' || chr(10) || t2 || chr(10) || 'pad one' ||
         |               chr(10) || 'pad two' || chr(10) || '$repLongLine'
         |          ELSE t2 END) AS t
         |  FROM (
         |    SELECT doc_id,
         |      (CASE WHEN doc_id % 11 = 0 THEN t1 || $bigramChunkSql ELSE t1 END) AS t2
         |    FROM (
         |      SELECT doc_id,
         |        (CASE WHEN doc_id % 5 = 0 THEN $dupLinesSql || chr(10) || text
         |              ELSE text END) AS t1
         |      FROM documents))),
         |cnt AS (
         |  SELECT doc_id,
         |    list_filter(string_split(replace(t, chr(10), ' '), ' '), x -> x <> '') AS ws,
         |    list_filter(string_split(t, chr(10)), x -> x <> '') AS ls
         |  FROM noisy),
         |m AS (
         |  SELECT doc_id, ws,
         |    CAST(len(ls) AS BIGINT) AS n_lines,
         |    CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS n_dup_lines,
         |    CAST(COALESCE(list_sum(list_transform(ls, x -> length(x))), 0) AS BIGINT) AS chars_lines,
         |    CAST(COALESCE(list_sum(list_transform(ls, x -> length(x))), 0) -
         |         COALESCE(list_sum(list_transform(list_distinct(ls), x -> length(x))), 0) AS BIGINT) AS chars_dup_lines,
         |    CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS sum_word_len
         |  FROM cnt),
         |bg AS (
         |  SELECT doc_id, ws[i + 1] || ' ' || ws[i + 2] AS b
         |  FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i FROM m WHERE len(ws) >= 2)),
         |bgc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b HAVING COUNT(*) >= 2),
         |top AS (SELECT doc_id, CAST(MAX(c * length(b)) AS BIGINT) AS tm FROM bgc GROUP BY doc_id)
         |SELECT m.doc_id, n_lines, n_dup_lines, chars_lines, chars_dup_lines, sum_word_len,
         |  CAST(COALESCE(top.tm, 0) AS BIGINT) AS top_bigram_mass,
         |  CAST(CASE WHEN n_lines > 0 AND 10 * n_dup_lines >= 3 * n_lines
         |       THEN 1 ELSE 0 END AS BIGINT) AS r_dup_lines,
         |  CAST(CASE WHEN chars_lines > 0 AND 5 * chars_dup_lines >= chars_lines
         |       THEN 1 ELSE 0 END AS BIGINT) AS r_dup_line_chars,
         |  CAST(CASE WHEN sum_word_len > 0 AND 2 * COALESCE(top.tm, 0) >= sum_word_len
         |       THEN 1 ELSE 0 END AS BIGINT) AS r_top_bigram,
         |  CAST(CASE WHEN NOT (n_lines > 0 AND 10 * n_dup_lines >= 3 * n_lines)
         |        AND NOT (chars_lines > 0 AND 5 * chars_dup_lines >= chars_lines)
         |        AND NOT (sum_word_len > 0 AND 2 * COALESCE(top.tm, 0) >= sum_word_len)
         |       THEN 1 ELSE 0 END AS BIGINT) AS passes
         |FROM m LEFT JOIN top ON m.doc_id = top.doc_id
         |ORDER BY m.doc_id""".stripMargin
    },
    // the same planted noise + integer cross-multiplied flags; every
    // counter is an integer list_filter/list_sum, engine-exact
    "q_gopher_rules" ->
      s"""WITH noisy AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 11 = 0 THEN t2 || chr(10) || 'teaser one...' || chr(10) || 'trailing two...'
         |          ELSE t2 END) AS t
         |  FROM (
         |    SELECT doc_id,
         |      (CASE WHEN doc_id % 7 = 0
         |            THEN '- alpha beta' || chr(10) || '- gamma delta' || chr(10) || '- epsilon zeta' || chr(10) || t1
         |            ELSE t1 END) AS t2
         |    FROM (
         |      SELECT doc_id,
         |        (CASE WHEN doc_id % 5 = 0 THEN text || ' ### #!# ###' ELSE text END) AS t1
         |      FROM documents))),
         |cnt AS (
         |  SELECT doc_id,
         |    list_filter(string_split(replace(t, chr(10), ' '), ' '), x -> x <> '') AS ws,
         |    list_filter(string_split(t, chr(10)), x -> x <> '') AS ls
         |  FROM noisy),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_word_len,
         |    CAST(len(list_filter(ws, x -> contains(x, '#'))) AS BIGINT) AS n_symbol_words,
         |    CAST(len(ls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(ls, x -> x LIKE '- %')) AS BIGINT) AS n_bullet_lines,
         |    CAST(len(list_filter(ls, x -> x LIKE '%...')) AS BIGINT) AS n_ellipsis_lines,
         |    CAST(len(list_filter(ws, x -> x IN ${TextAnalysis.stopwordsSql})) AS BIGINT) AS n_stopwords
         |  FROM cnt)
         |SELECT *,
         |  CAST(CASE WHEN n_words BETWEEN 20 AND 100000
         |    AND sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words
         |    AND 10 * n_symbol_words <= n_words
         |    AND 2 * n_bullet_lines < n_lines
         |    AND 10 * n_ellipsis_lines <= 3 * n_lines
         |    AND n_stopwords >= 1 THEN 1 ELSE 0 END AS BIGINT) AS passes
         |FROM m ORDER BY doc_id""".stripMargin,
    // per-class count-ratio weights fit on the md5 train half, argmax
    // scoring on the test half — one IEEE divide quantized to decimal,
    // ties to the class name, the q_dsir_weights convention
    "q_classify" ->
      """WITH tok AS (
        |  SELECT doc_id, lang AS label,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS is_train,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
        |  FROM documents),
        |tr AS (SELECT * FROM tok WHERE is_train),
        |tot AS (SELECT tk, COUNT(*) AS cr FROM tr GROUP BY tk),
        |vv AS (SELECT COUNT(*) AS v, SUM(cr) AS n_all FROM tot),
        |cls AS (SELECT label AS cls, COUNT(*) AS n_cls FROM tr GROUP BY label),
        |cc AS (SELECT tk, label AS cls, COUNT(*) AS ct FROM tr GROUP BY tk, label),
        |w AS (
        |  SELECT tot.tk, cls.cls,
        |    CAST(CAST((COALESCE(cc.ct, 0) + 1) * (vv.n_all + vv.v) AS DOUBLE) /
        |         CAST((cls.n_cls + vv.v) * (tot.cr + 1) AS DOUBLE) AS DECIMAL(18,8)) AS w
        |  FROM tot CROSS JOIN vv CROSS JOIN cls
        |  LEFT JOIN cc ON cc.tk = tot.tk AND cc.cls = cls.cls),
        |sc AS (
        |  SELECT te.doc_id, te.label, w.cls, SUM(w.w) AS score
        |  FROM tok te JOIN w ON te.tk = w.tk
        |  WHERE NOT te.is_train
        |  GROUP BY te.doc_id, te.label, w.cls),
        |pred AS (
        |  SELECT doc_id, label, cls,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rk
        |  FROM sc)
        |SELECT label, cls AS pred_label, COUNT(*) AS n_docs
        |FROM pred WHERE rk = 1
        |GROUP BY label, cls ORDER BY label, pred_label""".stripMargin,
    // bigram LM fit on the md5 train half, add-one conditionals
    // quantized to decimal, per-doc mean vs the corpus mean — every
    // divide is one IEEE op on exact integer/decimal inputs
    "q_lm_quality" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS is_train,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, is_train, t[i + 1] AS w1, t[i + 2] AS w2
        |  FROM (SELECT doc_id, is_train, t, unnest(range(len(t) - 1)) AS i
        |        FROM tok WHERE len(t) >= 2)),
        |cc AS (SELECT w1, w2, COUNT(*) AS ct FROM bg WHERE is_train GROUP BY w1, w2),
        |cx AS (SELECT w1, CAST(SUM(ct) AS BIGINT) AS c1 FROM cc GROUP BY w1),
        |vv AS (SELECT COUNT(*) AS v FROM cx),
        |sc AS (
        |  SELECT b.doc_id,
        |    CASE WHEN cx.c1 IS NOT NULL THEN
        |      CAST(CAST(COALESCE(cc.ct, 0) + 1 AS DOUBLE) /
        |           CAST(cx.c1 + vv.v AS DOUBLE) AS DECIMAL(18,8))
        |    ELSE CAST(CAST(1 AS DOUBLE) / CAST(vv.v AS DOUBLE) AS DECIMAL(18,8))
        |    END AS w
        |  FROM bg b
        |  CROSS JOIN vv
        |  LEFT JOIN cx ON b.w1 = cx.w1
        |  LEFT JOIN cc ON b.w1 = cc.w1 AND b.w2 = cc.w2
        |  WHERE NOT b.is_train),
        |d AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(w) AS sw FROM sc GROUP BY doc_id),
        |g AS (SELECT SUM(sw) AS tw, CAST(SUM(n_bigrams) AS BIGINT) AS tn FROM d)
        |SELECT doc_id, n_bigrams,
        |  CAST(sw AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS lm_score,
        |  CAST(CASE WHEN CAST(sw AS DOUBLE) / CAST(n_bigrams AS DOUBLE) >
        |    CAST(tw AS DOUBLE) / CAST(tn AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT)
        |    AS above_avg
        |FROM d CROSS JOIN g ORDER BY doc_id""".stripMargin,
    // same score CTEs as q_lm_quality; the banding the Spark plan
    // uses for parallel rank is invisible here — plain per-language
    // row_number is the definition it must match
    "q_lm_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS is_train,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, is_train, t[i + 1] AS w1, t[i + 2] AS w2
        |  FROM (SELECT doc_id, is_train, t, unnest(range(len(t) - 1)) AS i
        |        FROM tok WHERE len(t) >= 2)),
        |cc AS (SELECT w1, w2, COUNT(*) AS ct FROM bg WHERE is_train GROUP BY w1, w2),
        |cx AS (SELECT w1, CAST(SUM(ct) AS BIGINT) AS c1 FROM cc GROUP BY w1),
        |vv AS (SELECT COUNT(*) AS v FROM cx),
        |sc AS (
        |  SELECT b.doc_id,
        |    CASE WHEN cx.c1 IS NOT NULL THEN
        |      CAST(CAST(COALESCE(cc.ct, 0) + 1 AS DOUBLE) /
        |           CAST(cx.c1 + vv.v AS DOUBLE) AS DECIMAL(18,8))
        |    ELSE CAST(CAST(1 AS DOUBLE) / CAST(vv.v AS DOUBLE) AS DECIMAL(18,8))
        |    END AS w
        |  FROM bg b
        |  CROSS JOIN vv
        |  LEFT JOIN cx ON b.w1 = cx.w1
        |  LEFT JOIN cc ON b.w1 = cc.w1 AND b.w2 = cc.w2
        |  WHERE NOT b.is_train),
        |d AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(w) AS sw FROM sc GROUP BY doc_id),
        |r AS (
        |  SELECT d.doc_id, doc.lang, d.n_bigrams,
        |    CAST(d.sw AS DOUBLE) / CAST(d.n_bigrams AS DOUBLE) AS lm_score,
        |    row_number() OVER (PARTITION BY doc.lang
        |      ORDER BY CAST(d.sw AS DOUBLE) / CAST(d.n_bigrams AS DOUBLE) DESC,
        |               d.doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY doc.lang) AS nl
        |  FROM d JOIN documents doc ON d.doc_id = doc.doc_id)
        |SELECT doc_id, lang, n_bigrams, lm_score,
        |  CASE WHEN rk * 3 <= nl THEN 'head'
        |       WHEN rk * 3 <= nl * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,
    // sqrt is IEEE-exact in both engines; one quantize, exact sums,
    // one divide per share
    "q_mix_temperature" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS mass,
        |    CAST(sqrt(CAST(SUM(n_chars) AS DOUBLE)) AS DECIMAL(18,8)) AS sq
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS tm, SUM(sq) AS ts FROM per)
        |SELECT source, n_docs, mass,
        |  CAST(mass AS DOUBLE) / CAST(tm AS DOUBLE) AS raw_share,
        |  CAST(sq AS DOUBLE) / CAST(ts AS DOUBLE) AS temp_share,
        |  (CAST(sq AS DOUBLE) / CAST(ts AS DOUBLE)) /
        |    (CAST(mass AS DOUBLE) / CAST(tm AS DOUBLE)) AS upsample
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin,
    "q_curation" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, text,
         |    ${LangTools.langIdScoreColsSql}
         |  FROM t),
         |lid AS (
         |  SELECT doc_id, text,
         |    CASE ${LangTools.langIdCaseArmsSql}
         |      ELSE '${LangTools.langIdLangs.last}' END AS lang_pred
         |  FROM s),
         |q AS (
         |  SELECT doc_id, lang_pred,
         |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         |    len(list_filter(string_split(text, ' '),
         |      x -> x IN ${TextAnalysis.stopwordsSql})) AS n_stopwords
         |  FROM lid),
         |fp AS (SELECT doc_id, md5(trim(text)) AS f FROM documents),
         |grp AS (
         |  SELECT f, MIN(doc_id) AS keeper, COUNT(*) AS n_dupes
         |  FROM fp GROUP BY f)
         |SELECT q.doc_id, q.lang_pred, q.n_tokens, q.n_stopwords,
         |  CAST(grp.n_dupes AS BIGINT) AS n_dupes
         |FROM q JOIN fp ON q.doc_id = fp.doc_id
         |       JOIN grp ON fp.f = grp.f
         |WHERE grp.keeper = q.doc_id
         |  AND q.n_tokens BETWEEN 20 AND 80
         |  AND q.n_stopwords >= 1
         |ORDER BY q.doc_id""".stripMargin,
  )
}
