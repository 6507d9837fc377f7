package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{IndexCache, Tables, TxTable}
import graft.sources.Warc

/** The COMPOSED INCREMENTAL CRAWL REFRESH — every stage of "a new
  * crawl slice arrives, fold it into the training corpus" chained in
  * one graded job, each stage reusing the standalone operator's exact
  * semantics so the composition can never drift from the pieces:
  *
  *   1. the new batch (sources src10+, the [[ScaleOps.qBloomNewDocs]]
  *      split convention) enters FROM THE WIRE: parsed out of crawl
  *      WARC shards ([[graft.sources.Warc]]) written by the
  *      DISTRIBUTED writer — with the MESSY target URIs a real crawl
  *      carries (scheme/host case, default ports, tracking params,
  *      fragments) and DUPLICATE FETCHES of the same page;
  *   2. FRONTIER DEDUP: fetches key by
  *      [[UrlOps.canonicalizeUrl]](target_uri) — duplicate fetches of
  *      one canonical URL collapse to one document and are accounted
  *      in the `_url_dup` audit bucket (the first dedup any web
  *      pipeline runs, BEFORE content hashing sees the bytes);
  *   3. the quality gate — the FULL Gopher structural conjunction
  *      ([[Curation.gopherCounts]], integer cross-multiplied rules)
  *      with a PER-RULE audit bucket naming the first failing rule —
  *      drops junk BEFORE any pairwise work; at 100 TB the cheap
  *      map-side gate must run first so the dedup tier never
  *      fingerprints rejected bytes;
  *   4. near-dup rejection (exact Jaccard ≥ 1/2 over 3-shingles, the
  *      [[IncrementalDedup]] tier): a gated doc is rejected if it
  *      near-dups ANY existing-corpus doc (mined against the PERSISTED
  *      inverted index — old×old never recomputes) or any smaller-id
  *      gated doc seen so far (the greedy drop-later-duplicates rule,
  *      deterministic and non-transitive by design);
  *   5. survivors MERGE into the ACID corpus table by doc_id
  *      ([[graft.core.TxTable.merge]] — idempotent under re-runs:
  *      re-merging admitted docs is an update to identical values);
  *   6. the output is the refreshed per-source corpus accounting plus
  *      one row per rejection bucket — the audit a production refresh
  *      publishes.
  *
  * The same pipeline runs BATCH ([[qCrawlRefresh]]) and STREAMING
  * ([[streamRefresh]]), and the two are oracle-proven equal:
  * [[qCrawlRefreshStream]] replays the same crawl slices as ≥2
  * checkpointed micro-batches (with a restart between them) and must
  * hash-match `q_crawl_refresh`'s oracle — the stream-equals-batch
  * law a production migration relies on. The law holds because (a)
  * slices arrive in doc_id order (a crawl feed's arrival order; the
  * greedy drop-later rule is order-sensitive by definition), and (b)
  * the index is ORIGIN-SPLIT: corpus postings reject any match
  * (`_neardup_old`), crawl postings — appended per batch for every
  * gate-PASSING doc — reject only strictly-larger doc ids
  * (`_neardup_new`, exactly the within-batch greedy rule stretched
  * across batches; the strict inequality also makes replays
  * harmless: a batch whose postings already landed can never reject
  * its own docs or its co-batch seniors twice).
  *
  * Scale shape: frontier dedup is one hash agg on the canonical key;
  * gate is map-side; BOTH near-dup tiers run [[IncrementalDedup]]'s
  * lossless df-ordered PREFIX plan (candidates from prefix×prefix
  * with the positional filter on both sides, exact array_intersect
  * verification on the full sets — the same pair set, so the same
  * oracle): the new×index join is bounded by the batch's prefix
  * postings, and on a boilerplate-heavy crawl the candidate set is
  * O(rare-df²), never O(df²) over license/header shingles; the merge
  * touches only admitted rows. Everything downstream of the parse
  * reuses ONE checkpointed disposition frame.
  */
object CrawlRefresh {

  private def srcNum = substring(col("source"), 4, 10).cast("int")

  /** The ACID corpus table seeded with the EXISTING corpus (src0-9),
    * built once per (session, dir) — the table the refresh merges
    * into and reads back.
    */
  private[graft] def corpusTable(s: SparkSession, dir: String): TxTable =
    IndexCache.scratch(s, "crawl-corpus", dir) { p =>
      val t = new TxTable(s, p)
      t.append(Tables.load(s, dir, "documents").where(srcNum < 10)
        .select(col("doc_id"), col("source"), col("text")))
      t
    }

  /** The messy-URI synthesis for the crawl fixture: deterministic
    * per-doc scheme-case / host-case / default-port / tracking-param /
    * fragment noise around `https://example.org/{source}/{doc_id}
    * ?ref={doc_id%10}`; `dup = true` emits the SECOND FETCH variant
    * (maximal noise in every dimension at once, so each canon rule
    * failing un-collapses some modulus class and breaks the audit).
    */
  private def messyUri(dup: Boolean): Column =
    if (dup)
      concat(lit("HTTPS://EXAMPLE.org:443/"), col("source"), lit("/"),
        col("doc_id").cast("string"), lit("?utm_medium=z&ref="),
        (col("doc_id") % 10).cast("string"), lit("#dup"))
    else concat(
      when(col("doc_id") % 2 === 0, "https").otherwise("HTTPS"),
      lit("://"),
      when(col("doc_id") % 3 === 0, "EXAMPLE.org").otherwise("example.org"),
      when(col("doc_id") % 5 === 0, ":443").otherwise(""),
      lit("/"), col("source"), lit("/"), col("doc_id").cast("string"),
      when(col("doc_id") % 6 === 0,
        concat(lit("?utm_source=x&ref="), (col("doc_id") % 10).cast("string")))
        .when(col("doc_id") % 6 === 3,
          concat(lit("?ref="), (col("doc_id") % 10).cast("string"),
            lit("&utm_campaign=y")))
        .otherwise(concat(lit("?ref="), (col("doc_id") % 10).cast("string"))),
      when(col("doc_id") % 3 === 1, "#frag").otherwise(""))

  /** The boilerplate-spam payload planted on `doc_id % 41 == 0` crawl
    * docs: passes every STRUCTURAL gate rule (25 words, sane lengths,
    * stopword) and dies on the wired repetition rule — so the
    * `_gate_dup_lines` bucket is exercised by the GRADED oracle rows,
    * not only by the spec.
    */
  private[ext] val repetitiveDoc: String =
    Seq.fill(5)("the alpha beta gamma delta").mkString("\n")

  /** The bigram-spam payload planted on `doc_id % 43 == 0` crawl
    * docs: one line (so both dup-line rules pass), 62 words in
    * bounds, a stopword — it passes every map-side rule and ONLY the
    * per-doc-aggregate top-bigram rule catches it ("alpha beta" ×25
    * carries 250 of ~274 word chars), so the `_gate_top_bigram`
    * bucket is oracle-graded end to end.
    */
  private[ext] val bigramSpamDoc: String =
    "the quick brown fox jumps over a lazy dog near the riverbank " +
      Seq.fill(25)("alpha beta").mkString(" ")

  /** The HTTP preamble of a `response`-record fetch (Common-Crawl-
    * shaped raw crawl output): [[parseFetches]] must strip it and
    * recover the identical payload text.
    */
  private val httpOk: String =
    "HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n\r\n"

  /** The crawl-slice WARC fixture: the src10+ documents framed as 2
    * doc_id-RANGE shards (`slice-0` = lower half, `slice-1` = upper —
    * the arrival order the streaming law needs) with messy URIs,
    * written by the DISTRIBUTED [[Warc.writeShards]] path. The mix a
    * real crawl feed delivers, each class on its own modulus:
    *
    *  - ODD doc_ids arrive as `WARC-Type: response` records (raw HTTP
    *    bytes — status line + headers + CRLFCRLF + body) that
    *    [[parseFetches]] must header-strip; even ids as `conversion`;
    *  - `% 37`: a DUPLICATE fetch one day LATER whose payload is
    *    `"refreshed: "`-prefixed — the frontier's latest-wins keeper
    *    is graded (keep the refetched payload, count the `_url_dup`);
    *  - `% 41`: the [[repetitiveDoc]] payload (dup-line gate rule);
    *  - `% 43`: the [[bigramSpamDoc]] payload (top-bigram gate rule);
    *  - `% 53`: an EXTRA `404` response of the same page; `% 59`: an
    *    extra `image/png` 200 response — both must be DROPPED by the
    *    parse gates (kept by mistake, they shift `_url_dup` or the
    *    keeper and break the oracle hash).
    *
    * Built once per (session, dir); returns the directory.
    */
  private[graft] def crawlFixture(s: SparkSession, dir: String): String =
    IndexCache.scratch(s, "crawl-fixture", dir) { p =>
      val newDocs = Tables.load(s, dir, "documents").where(srcNum >= 10)
        .select(col("doc_id"), col("source"), col("text"))
      // doc_id-range split via ntile: a fixture-scale global window
      // (production slices arrive already time-sharded)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      val sharded = newDocs.withColumn("half", ntile(2).over(w) - 1)
      val shardFile =
        concat(lit("slice-"), col("half").cast("string"), lit(".warc.gz"))
      val isResp = col("doc_id") % 2 === 1
      def recs(dup: Boolean) = {
        val baseText = when(col("doc_id") % 41 === 0, lit(repetitiveDoc))
          .when(col("doc_id") % 43 === 0, lit(bigramSpamDoc))
          .otherwise(col("text"))
        val fetchText =
          if (dup) concat(lit("refreshed: "), baseText) else baseText
        sharded
          .where(if (dup) col("doc_id") % 37 === 0 else lit(true))
          .select(
            shardFile.as("shard_file"),
            (col("doc_id") * 4 + (if (dup) 1 else 0)).as("seq"),
            when(isResp, "response").otherwise("conversion").as("warc_type"),
            concat(lit("<urn:uuid:doc-"), col("doc_id").cast("string"),
              lit(if (dup) "-dup>" else ">")).as("record_id"),
            messyUri(dup).as("target_uri"),
            lit(if (dup) "2026-01-02T00:00:00Z" else "2026-01-01T00:00:00Z")
              .as("warc_date"),
            when(isResp, "application/http; msgtype=response")
              .otherwise("text/plain").as("content_type"),
            encode(when(isResp, concat(lit(httpOk), fetchText))
              .otherwise(fetchText), "utf-8").as("payload"))
      }
      // parse-gate noise: records the refresh must DROP (note the 404
      // is the LATEST fetch of its page — kept by mistake it would
      // also steal the latest-wins keeper)
      def noise(mod: Int, seqOff: Int, idTag: String, payload: String) =
        sharded.where(col("doc_id") % mod === 0)
          .select(
            shardFile.as("shard_file"),
            (col("doc_id") * 4 + seqOff).as("seq"),
            lit("response").as("warc_type"),
            concat(lit("<urn:uuid:doc-"), col("doc_id").cast("string"),
              lit(s"-$idTag>")).as("record_id"),
            messyUri(dup = false).as("target_uri"),
            lit("2026-01-03T00:00:00Z").as("warc_date"),
            lit("application/http; msgtype=response").as("content_type"),
            encode(lit(payload), "utf-8").as("payload"))
      val noise404 = noise(53, 2, "err",
        "HTTP/1.0 404 Not Found\r\nContent-Type: text/html\r\n\r\n<html>gone</html>")
      val noiseBin = noise(59, 3, "img",
        "HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\nPNG-ish fake bytes")
      Warc.writeShards(
        recs(dup = false).unionAll(recs(dup = true))
          .unionAll(noise404).unionAll(noiseBin), p)
      p
    }

  /** ONE ROW PER INDEXED DOC for the refresh's near-dup index:
    * `(m, hs, prefix_hs, origin)` — the packed member, the FULL
    * fingerprint set (exact verification), and the df-ordered PREFIX
    * (candidate generation; [[IncrementalDedup]]'s lossless
    * AllPairs/PPJoin shape: only the first ⌊sz/2⌋+1 rarest shingles
    * under the frozen (df asc, h asc) order can start a qualifying
    * pair, so boilerplate shingles never enter the candidate join).
    * `dfreq` is the epoch's FROZEN document-frequency table (unseen
    * shingles order at df 0); EVERY row ever compared in one refresh
    * lifecycle must be built under the same dfreq — the prefix
    * theorem needs one shared total order.
    */
  private[graft] def indexRows(sets: DataFrame, dfreq: Option[DataFrame],
                               origin: String): DataFrame = {
    import graft.functions.PairExpand
    val post = sets.select(col("doc_id"), TextAnalysis.packedMember.as("m"),
      explode(col("hs")).as("h"))
    val withDf = dfreq match {
      case Some(d) => post.join(d, Seq("h"), "left")
        .withColumn("df", coalesce(col("df"), lit(0L)))
      case None => post.withColumn("df", lit(0L))
    }
    // ONE aggregate builds both sides of the per-doc row: collect the
    // (df, h) pairs per doc, sort once in the group (lexicographic
    // struct order = the df-asc, h-asc prefix order; h is distinct per
    // doc so there are no ties), cut the prefix by slice, and recover
    // the full set by re-sorting the h's (ShingleHashes emits sorted
    // distinct hashes, so array_sort over the same elements is
    // byte-identical to the input hs). Replaces a window (exchange +
    // partition-wide sort + rk filter) + a groupBy + a join back to
    // the sets frame — two fewer plan legs per evaluation, same rows.
    withDf
      .groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("dh"))
      .select(col("m"),
        array_sort(transform(col("dh"), x => x.getField("h"))).as("hs"),
        transform(
          slice(col("dh"), lit(1),
            (floor(col("m").bitwiseAND(lit(PairExpand.SzMask)) / lit(2)) + 1)
              .cast("int")),
          x => x.getField("h")).as("prefix_hs"),
        lit(origin).as("origin"))
  }

  /** Split per-doc [[indexRows]] into the two join-side shapes the
    * miner consumes: prefix POSTINGS `(h, m, origin)` for candidate
    * generation and per-doc SETS `(doc_id, hs, origin)` for exact
    * verification.
    */
  private[ext] def indexParts(rows: DataFrame): (DataFrame, DataFrame) = {
    import graft.functions.PairExpand
    (rows.select(explode(col("prefix_hs")).as("h"), col("m"), col("origin")),
      rows.select(shiftrightunsigned(col("m"), PairExpand.SzBits).as("doc_id"),
        col("hs"), col("origin")))
  }

  /** The EXISTING corpus's two miner sides read STRAIGHT off the
    * persisted at-ingest artifact ([[IncrementalDedup]]'s h-bucketed
    * `prefix/` and doc_id-bucketed `sets/`): nothing is
    * refingerprinted, nothing is regrouped — the candidate join scans
    * the prefix buckets in place and the verify join the set buckets,
    * so the corpus side of the refresh is never re-exchanged (the
    * same plan property `IncrementalDedupSpec` pins for the
    * standalone miner).
    */
  /** The per-doc index row schema ([[indexRows]]' output) — used to
    * `create()` the streaming index table before its first append so
    * trigger 0 can read it empty.
    */
  private val indexSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("m", LongType),
      StructField("hs", ArrayType(LongType)),
      StructField("prefix_hs", ArrayType(LongType)),
      StructField("origin", StringType)))
  }

  private[ext] def corpusParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val idxDir = IncrementalDedup.persistedIndexDir(s, dir)
    (IncrementalDedup.readPart(s, idxDir, "prefix")
       .select(col("h"), col("m"), lit("corpus").as("origin")),
      IncrementalDedup.readPart(s, idxDir, "sets")
        .select(col("doc_id"), col("hs"), lit("corpus").as("origin")))
  }

  /** The epoch's frozen df table (size-gated broadcast, the
    * [[IncrementalDedup.dfSide]] gate).
    */
  private def corpusDf(s: SparkSession, dir: String): DataFrame = {
    val idxDir = IncrementalDedup.persistedIndexDir(s, dir)
    IncrementalDedup.dfSide(s, dir, s.read.parquet(s"$idxDir/df"))
  }

  /** The REFETCH slice: a later crawl pass re-fetching pages the
    * corpus already holds (src<10 docs with `doc_id % 13 == 0`, messy
    * maximal-noise URIs, same payloads) — the input that exercises
    * [[streamRefresh]]'s `suppressRefetch` frontier state. Its own
    * directory so the batch fixture's glob stays untouched.
    */
  private[graft] def refetchFixture(s: SparkSession, dir: String): String =
    IndexCache.scratch(s, "crawl-refetch", dir) { p =>
      Warc.writeShards(
        Tables.load(s, dir, "documents")
          .where(srcNum < 10 && col("doc_id") % 13 === 0)
          .select(
            lit("slice-2.warc.gz").as("shard_file"),
            col("doc_id").as("seq"),
            lit("conversion").as("warc_type"),
            concat(lit("<urn:uuid:doc-"), col("doc_id").cast("string"),
              lit("-refetch>")).as("record_id"),
            messyUri(dup = true).as("target_uri"),
            lit("2026-01-01T00:00:00Z").as("warc_date"),
            lit("text/plain").as("content_type"),
            encode(col("text"), "utf-8").as("payload")),
        p)
      p
    }

  /** Parse WARC records into FETCH rows: canonicalize the target URI
    * ([[UrlOps.canonicalizeUrl]] — pure codegen'd columns) and derive
    * the document identity FROM THE CANONICAL FORM (the messy raw URI
    * does not parse positionally). Two record shapes feed the
    * refresh, both pure column math:
    *
    *  - `conversion` (WET-style): the payload IS the text;
    *  - `response` (raw crawl output, Common-Crawl-shaped): the
    *    payload is the raw HTTP response — the text is the body after
    *    the first CRLFCRLF ([[Warc.httpBody]]), gated on status 200
    *    ([[Warc.httpStatus]], any HTTP/x.y status line) and a
    *    `text/`-prefixed HTTP Content-Type ([[Warc.httpHeader]], read
    *    from the header block only). Non-200 and non-text responses
    *    are dropped — the standard crawl-ingest convention.
    *
    * Works on batch and streaming frames alike.
    */
  private[graft] def parseFetches(warcRows: DataFrame): DataFrame = {
    val isConv = col("warc_type") === "conversion"
    val keep = isConv ||
      (col("warc_type") === "response" &&
        Warc.httpStatus(col("payload")) === 200 &&
        lower(coalesce(Warc.httpHeader(col("payload"), "Content-Type"),
          lit(""))).startsWith("text/"))
    warcRows
      .where(keep)
      .select(UrlOps.canonicalizeUrl(col("target_uri")).as("canon_url"),
        when(isConv, col("payload").cast("string"))
          .otherwise(Warc.httpBody(col("payload"))).as("text"),
        col("warc_date"))
      .select(
        regexp_extract(col("canon_url"), "example\\.org/([^/?#]+)/([0-9]+)", 2)
          .cast("long").as("doc_id"),
        regexp_extract(col("canon_url"), "example\\.org/([^/?#]+)/([0-9]+)", 1)
          .as("source"),
        col("text"), col("canon_url"), col("warc_date"))
  }

  /** FRONTIER DEDUP: one hash aggregate on the canonical URL —
    * duplicate fetches of one page collapse to one document and the
    * collapse count rides along for the `_url_dup` audit. The keeper
    * is ONE WHOLE ROW — the LATEST fetch by `warc_date` (ISO-8601
    * sorts lexicographically; remaining ties break on (text, doc_id,
    * source) so the pick is total-ordered) — a real crawl's refetched
    * payloads differ and the freshest must win, and electing fields
    * from different rows of the group could stitch a chimera document
    * no fetch ever delivered. Frames without a `warc_date` column
    * (the spec's synthetic fetch streams) fall back to per-field min,
    * which is only meaningful under an identical-payload contract.
    */
  private def frontier(fetches: DataFrame): DataFrame =
    if (fetches.columns.contains("warc_date"))
      fetches.groupBy(col("canon_url"))
        .agg(
          max_by(struct(col("doc_id"), col("source"), col("text")),
            struct(col("warc_date"), col("text"), col("doc_id"), col("source")))
            .as("k"),
          count(lit(1)).as("n_fetches"))
        .select(col("canon_url"), col("k.doc_id").as("doc_id"),
          col("k.source").as("source"), col("k.text").as("text"),
          col("n_fetches"))
    else
      fetches.groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("source")).as("source"),
          min(col("text")).as("text"), count(lit(1)).as("n_fetches"))

  /** The MAP-SIDE half of the quality gate: the FULL Gopher
    * structural conjunction ([[Curation.gopherCounts]] — the same
    * integer cross-multiplied counters `q_gopher_rules` grades, with
    * the corpus-tuned word bound 20..80) PLUS the map-side half of
    * the repetition family (duplicate-line fraction and
    * duplicate-line char fraction, the `q_gopher_repetition` rules
    * that are pure higher-order column math; the top-bigram rule
    * needs a per-doc aggregate and is folded in by [[gate]]).
    * Evaluated as a FIRST-FAILING-RULE audit bucket: NULL = the doc
    * passes every map-side rule; otherwise the bucket names the rule
    * that killed it — the per-rule accounting a curation team
    * actually reads (which gate is eating my corpus?). Map-only;
    * rule order is fixed so the bucket is deterministic.
    */
  private[graft] def gateBucket: Column =
    gateBucketOver(filter(split(col("text"), "\n"), l => l =!= lit("")))

  /** [[gateBucket]] with the non-empty line array supplied by the
    * caller — [[gate]] binds it once in its own projection so the
    * text splits exactly once per row GUARANTEED, instead of leaving
    * the four `lines` uses to codegen subexpression elimination.
    */
  private[graft] def gateBucketOver(lines: Column): Column = {
    val c = Curation.gopherCounts(col("text"))
    val dupLines = (size(lines) - size(array_distinct(lines))).cast("long")
    val lineChars = aggregate(lines, lit(0L), (a, x) => a + length(x))
    val dupLineChars =
      lineChars - aggregate(array_distinct(lines), lit(0L), (a, x) => a + length(x))
    when(!c.nWords.between(20L, 80L), "_gate_words")
      .when(c.sumLen < lit(3L) * c.nWords || c.sumLen > lit(10L) * c.nWords,
        "_gate_word_len")
      .when(lit(10L) * c.nSym > c.nWords, "_gate_symbols")
      .when(lit(2L) * c.nBullet >= c.nLines, "_gate_bullets")
      .when(lit(10L) * c.nEllipsis > lit(3L) * c.nLines, "_gate_ellipsis")
      .when(c.nStop < 1L, "_gate_stopword")
      .when(lit(10L) * dupLines >= lit(3L) * c.nLines, "_gate_dup_lines")
      .when(lit(5L) * dupLineChars >= lineChars, "_gate_dup_line_chars")
  }

  /** The FULL gate over a frontier frame: the map-side conjunction
    * ([[gateBucket]]) plus the TOP-BIGRAM repetition rule
    * (`q_gopher_repetition` semantics: max char mass over ≥2-count
    * 2-grams vs half the word chars), evaluated as the LAST
    * first-failing bucket `_gate_top_bigram` so the map-side rule
    * order is untouched.
    *
    * Scale shape: the ENTIRE gate is now one map pass — the bigram
    * rule rides [[Curation.topBigramMass]]'s per-doc sorted-run walk
    * (a doc is one row; its bigram multiset never leaves the task)
    * instead of a (doc_id, bigram) keyed agg + per-doc max + join-back
    * that shuffled the batch twice per trigger. The rule is evaluated
    * lazily: the `when` chain short-circuits it for docs an earlier
    * (cheaper) rule already killed. Output: (doc_id, source, text,
    * gate_bucket, pass_gate).
    */
  private[graft] def gate(fr: DataFrame): DataFrame = {
    val ws = TextAnalysis.tokens(regexp_replace(col("text"), "\n", " "))
    val sumWordLen = aggregate(ws, lit(0L), (a, x) => a + length(x))
    // `__lines` binds the split ONCE in its own projection (the
    // dup-line rules reference it four times; an inlined expression
    // would rely on codegen subexpression elimination to dedup)
    fr.withColumn("__lines",
        filter(split(col("text"), "\n"), l => l =!= lit("")))
      .select(col("doc_id"), col("source"), col("text"),
        gateBucketOver(col("__lines"))
          .when(sumWordLen > 0L &&
            lit(2L) * Curation.topBigramMass(ws) >= sumWordLen,
            "_gate_top_bigram").as("gate_bucket"))
      .withColumn("pass_gate", col("gate_bucket").isNull)
  }

  /** The prefix×prefix candidate pairs of a gated batch against an
    * origin-split [[indexRows]] index, pre-verification — exposed for
    * the spec's shrink accounting (on a boilerplate-heavy corpus this
    * set is the point of the prefix filter: high-df license/header
    * shingles never generate candidates, where full postings pay
    * O(corpus-df²)). The per-origin id condition is applied BEFORE
    * the distinct so replay-shielded pairs never reach verification:
    * corpus-origin postings pair with any other doc, crawl-origin
    * postings only with strictly-larger ids (`mo < mn`).
    */
  private[ext] def dispoCandidates(newRows: DataFrame, oldPost: DataFrame): DataFrame = {
    val s = newRows.sparkSession
    import s.implicits._
    import graft.functions.PairExpand
    newRows.select(explode($"prefix_hs").as("h"), $"m".as("mn"))
      .join(oldPost.select($"h", $"m".as("mo"), $"origin"), "h")
      .where(when($"origin" === "corpus",
          shiftrightunsigned($"mo", PairExpand.SzBits) =!=
            shiftrightunsigned($"mn", PairExpand.SzBits))
        .otherwise(shiftrightunsigned($"mo", PairExpand.SzBits) <
          shiftrightunsigned($"mn", PairExpand.SzBits)))
      .select($"mn", $"mo", $"origin").distinct()
  }

  /** Disposition of a gated batch against an ORIGIN-SPLIT per-doc
    * index ([[indexRows]]) — the shared core of the batch
    * [[qCrawlRefresh]] and the streaming [[streamRefresh]]:
    *
    *  - `origin = 'corpus'` rows (the pre-existing corpus) reject
    *    any qualifying match → `_neardup_old`;
    *  - `origin = 'crawl'` rows (gate-passing docs of EARLIER
    *    micro-batches) reject only STRICTLY-LARGER doc ids →
    *    `_neardup_new` — the within-batch greedy rule stretched
    *    across batches. The strict `<` is also the replay shield: a
    *    re-delivered batch whose own rows already committed can
    *    never reject itself (self and co-batch-senior matches fail
    *    `mo < mn`), so dispositions are exactly repeatable.
    *
    * Mining is the PREFIX-FILTERED plan on every tier (the same
    * df-ordered AllPairs/PPJoin shape as [[IncrementalDedup]], both
    * sides positional-filtered, exact array_intersect verification):
    * new×index candidates come from new-prefix × index-prefix, the
    * within-batch tier from the batch's own prefix pair expansion —
    * lossless (same pair set, same oracle), and on a boilerplate-
    * heavy crawl the candidate join is O(rare-df²), not O(df²).
    */
  private[ext] def dispositions(gated: DataFrame,
                                idxParts: Seq[(DataFrame, DataFrame)],
                                dfreq: Option[DataFrame]): DataFrame =
    dispositionsFromRows(gated,
      indexRows(TextAnalysis.docShingleSets(gated.where(col("pass_gate"))),
        dfreq, origin = "new").localCheckpoint(eager = false),
      idxParts)

  /** [[dispositions]] over PRECOMPUTED new-batch index rows — the
    * streaming path builds them once per trigger and reuses the same
    * frame for the post-disposition index append, so each batch is
    * fingerprinted and prefix-cut exactly once.
    */
  private[ext] def dispositionsFromRows(gated: DataFrame, newRows: DataFrame,
                                        idxParts: Seq[(DataFrame, DataFrame)])
      : DataFrame = {
    val s = gated.sparkSession
    import s.implicits._
    import graft.functions.PairExpand
    val szMask = lit(PairExpand.SzMask)
    // new×index per PART (the corpus part's postings/sets arrive
    // bucketed and are mined without a union that would erase their
    // partitioning): prefix×prefix candidates, exact-verified on the
    // full sets — the verify joins by DOC ID so the bucketed set side
    // also scans in place.
    // The WITHIN-BATCH tier rides the same machinery as a third
    // origin part (was its own groupBy(h) + PairExpand leg + a second
    // join back to the batch): the batch's prefix postings pair
    // against themselves under the non-corpus rule `mo < mn`, which
    // IS the within-batch greedy rule (reject the larger doc of a
    // qualifying pair; self-pairs fail the strict `<`), and the pair
    // set is identical to the bucket expansion's — both emit exactly
    // the prefix×prefix co-occurrences. One exchange of the batch
    // postings now serves all three tiers (reused subtree), and the
    // verdicts fold in the ONE per-doc aggregate below.
    val withinPart = (
      newRows.select(explode($"prefix_hs").as("h"), $"m",
        lit("within").as("origin")),
      newRows.select(shiftrightunsigned($"m", PairExpand.SzBits).as("doc_id"),
        $"hs", lit("within").as("origin")))
    val verified = (idxParts :+ withinPart).map { case (oldPost, oldSets) =>
      dispoCandidates(newRows, oldPost)
        .select(shiftrightunsigned($"mn", PairExpand.SzBits).as("dn"),
          shiftrightunsigned($"mo", PairExpand.SzBits).as("do_"),
          ($"mn".bitwiseAND(szMask) + $"mo".bitwiseAND(szMask)).as("szsum"),
          $"origin")
        .join(newRows.select(
          shiftrightunsigned($"m", PairExpand.SzBits).as("dn"), $"hs".as("ha")), "dn")
        .join(oldSets.select($"doc_id".as("do_"), $"hs".as("hb")), "do_")
        .where(lit(3) * size(array_intersect($"ha", $"hb")).cast("long") >= $"szsum")
        .select($"dn".as("doc_id"), $"origin")
    }.reduce(_ unionAll _)
    // ONE per-doc aggregate folds all three tier verdicts (was two
    // filter+distinct legs and two separate joins back to the batch):
    // r_old = any corpus-origin match, r_prev = any earlier-crawl
    // match, r_within = any senior co-batch match
    val idxVerdict = verified.groupBy($"doc_id")
      .agg(max($"origin" === "corpus").as("r_old"),
        max($"origin" === "crawl").as("r_prev"),
        max($"origin" === "within").as("r_within"))
    gated
      .join(idxVerdict, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("text"),
        when(col("gate_bucket").isNotNull, col("gate_bucket"))
          .when(col("r_old"), "_neardup_old")
          .when(col("r_prev") || col("r_within"), "_neardup_new")
          .otherwise("_admitted").as("bucket"))
  }

  /** Per-fetch audit rows: each surviving doc carries its disposition
    * bucket; each COLLAPSED duplicate fetch contributes a `_url_dup`
    * row — the buckets partition the raw fetch records exactly.
    */
  private def auditRows(fr: DataFrame, dispo: DataFrame): DataFrame =
    dispo.select(col("doc_id"), col("source"), col("bucket"))
      .unionAll(fr.where(col("n_fetches") > 1)
        .select(col("doc_id"), col("source"),
          explode(array_repeat(lit("_url_dup"),
            (col("n_fetches") - 1).cast("int"))).as("bucket")))

  /** KEYED CROSS-BATCH FRONTIER STATE for `suppressRefetch` — the
    * scale-safe corpus-membership probe (the reference analog:
    * silver's streaming dedup is a state-store LOOKUP per batch —
    * `notebooks/medallion/silver.py:22` `dropDuplicates` — never a
    * table rescan). At query start the corpus keys seed (a) a driver-held
    * Bloom filter and (b) a doc_id-BUCKETED key table; each batch's
    * admitted keys fold into both (the bloom via an executor-
    * aggregated same-shape batch bloom merged in place — no row ever
    * collects to the driver; the table via a bucketed append).
    *
    * Per trigger the probe is O(batch): bloom-NEGATIVE fetches are
    * DEFINITELY new and skip the join entirely (a map-side broadcast
    * probe); only bloom-positive canons (true refetches + ~fpp false
    * positives) pay the exact anti-join, and its key side scans the
    * bucketed table with NO exchange — the corpus table itself is
    * never rescanned or reshuffled per micro-batch. A replayed batch
    * re-appends its keys (duplicate rows are harmless to an
    * anti-join). RESTARTS are O(delta): the frontier artifact (bloom
    * bytes + bucketed key table) persists beside the query's
    * `checkpoint`, at `<checkpoint>_frontier` (so it lives and dies with
    * the checkpoint it belongs to), and a new query
    * start folds in only the corpus CHANGE FEED since the artifact's
    * watermark version — a frequently-restarted feed never pays a
    * per-restart corpus rescan (full reseed remains the fallback for
    * a different/rebuilt corpus or a non-feed-readable range).
    */
  private[ext] final class FrontierIndex(s: SparkSession, corpus: TxTable,
                                         checkpoint: String) {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.util.sketch.BloomFilter
    // catalog name: sanitized checkpoint suffix + hash, readable AND
    // collision-safe
    private val table = "graft_frontier_" +
      checkpoint.replaceAll("[^a-zA-Z0-9]+", "_").takeRight(48) + "_" +
      java.lang.Long.toHexString(checkpoint.hashCode.toLong & 0xffffffffL)
    private val dataPath = checkpoint.stripSuffix("/") + "_frontier"
    private val statePath = new Path(dataPath + ".state")
    // RAW fs for the state files (no .crc sidecars): the bloom's own
    // deserialization and the guarded meta parse already catch torn
    // bytes, and checksum sidecars would make an out-of-band repair
    // (or crash-window write) unreadable instead of recoverable
    private val fs = statePath.getFileSystem(
      s.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    // the seed's expected-keys is CAPPED so neither driver heap nor
    // the one-per-run broadcast scales linearly with corpus keys —
    // past the cap the bloom's fpp degrades gracefully (more rows
    // take the exact bucketed join; never a wrong answer)
    private val seedCap = s.conf
      .get("spark.graft.frontier.seedExpectedCap", (1L << 26).toString).toLong

    /** Broadcast-discipline + reseed-cost instrumentation (spec'd:
      * the corpus-sized seed broadcasts exactly once per run; a
      * restart reseed reads only the corpus DELTA, never the corpus).
      */
    private[ext] var seedBroadcasts = 0
    private[ext] var recentBroadcasts = 0
    private[ext] var seededFromDelta = false
    private[ext] var seedScanCount = 0L

    private def metaFile = new Path(statePath, "meta.properties")
    private def bloomFile = new Path(statePath, "bloom.bin")

    private def writeState(bf: BloomFilter, expected: Long, version: Long): Unit = {
      fs.mkdirs(statePath)
      // bloom first, meta last: a crash between the two leaves an
      // OLDER meta version with a NEWER bloom — re-folding that delta
      // is idempotent (bloom merge + duplicate key rows are harmless),
      // and a torn bloom fails readFrom and falls back to full reseed
      val bo = fs.create(bloomFile, true)
      try bf.writeTo(bo) finally bo.close()
      val mo = fs.create(metaFile, true)
      try mo.write(
        s"corpusPath=${corpus.tablePath}\nversion=$version\nexpected=$expected\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally mo.close()
    }

    private def readMeta(): Option[Map[String, String]] =
      if (!fs.exists(metaFile)) None
      else {
        val len = fs.getFileStatus(metaFile).getLen.toInt
        val buf = new Array[Byte](len)
        val in = fs.open(metaFile)
        try in.readFully(0, buf) finally in.close()
        val txt = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
        Some(txt.split("\n").iterator.map(_.split("=", 2))
          .collect { case Array(k, v) => k -> v }.toMap)
      }

    /** Full O(corpus) seed — first run of a tag, or any state the
      * restart path cannot trust (different corpus, rebuilt table,
      * torn bloom, a non-feed-readable version range).
      */
    private def fullSeed(): BloomFilter = {
      val keys0 = corpus.read().select(col("doc_id"))
      val n = keys0.count()
      seedScanCount = n
      val expected = math.max(1024L, math.min(2L * n, seedCap))
      // create() allocates the bit array even when the corpus is empty
      // (stat.bloomFilter over zero rows would not — the ScaleOps NPE)
      val bf = BloomFilter.create(expected, 0.01)
      if (n > 0)
        bf.mergeInPlace(keys0.stat.bloomFilter("doc_id", expected, 0.01))
      graft.core.Layout.writeBucketed(keys0.withColumn("batch_id", lit(-1L)),
        table, "doc_id", buckets = 8, path = Some(dataPath))
      writeState(bf, expected, corpus.version)
      bf
    }

    /** Restart path: the persisted frontier artifact (bloom bytes +
      * bucketed key table) plus the corpus CHANGE FEED since its
      * watermark version — O(delta), never O(corpus). Valid only for
      * the same corpus table at a version ≥ the watermark with a
      * feed-readable range; anything else falls back to [[fullSeed]].
      * Keys admitted but never merged into the corpus die with their
      * run (documented: a restart reseeds corpus-known state only).
      */
    private def deltaSeed(): Option[BloomFilter] =
      try readMeta().flatMap { m =>
        val v0 = m.get("version").map(_.toLong)
        val expected = m.get("expected").map(_.toLong)
        val cur = corpus.version
        if (!m.get("corpusPath").contains(corpus.tablePath) ||
            v0.isEmpty || expected.isEmpty || v0.exists(_ > cur) ||
            !s.catalog.tableExists(table) || !fs.exists(bloomFile)) None
        else {
          val in = fs.open(bloomFile)
          val bf = try BloomFilter.readFrom(in) finally in.close()
          if (cur > v0.get) {
            val deltaAll = corpus.readChangeFeed(v0.get, cur)
              .where(col(TxTable.ChangeTypeCol) === "insert")
              .select(col("doc_id")).distinct()
              .localCheckpoint()
            // the bloom folds the WHOLE delta (merges are idempotent);
            // the TABLE appends only keys it doesn't already hold —
            // an admitted key keeps its batch tag across the restart
            // (the replay exclusion depends on it) and no duplicate
            // row accrues per restart. The probe is delta ×
            // bucketed-table — O(delta).
            val fresh = deltaAll
              .join(s.table(table).select(col("doc_id")),
                Seq("doc_id"), "left_anti")
              .localCheckpoint()
            seedScanCount = fresh.count()
            if (!deltaAll.isEmpty)
              bf.mergeInPlace(
                deltaAll.stat.bloomFilter("doc_id", expected.get, 0.01))
            if (seedScanCount > 0)
              fresh.withColumn("batch_id", lit(-1L))
                .write.mode(org.apache.spark.sql.SaveMode.Append)
                .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(table)
            writeState(bf, expected.get, cur)
          } else seedScanCount = 0L
          seededFromDelta = true
          Some(bf)
        }
      } catch {
        // non-feed-readable range (an overwrite/restore in between),
        // torn bloom bytes (IOException or a buffer under-run inside
        // the sketch deserializer), unreadable meta — ANY unreadable
        // state falls back to the full reseed rather than crashing a
        // stream start on a recoverable artifact
        case scala.util.control.NonFatal(_) => None
      }

    private val seed: BloomFilter = deltaSeed().getOrElse(fullSeed())
    // ONE broadcast of the corpus-sized seed per run — per-trigger
    // re-broadcast would re-ship ~GB at 10⁹ keys for an immutable
    // bit array (the r11 verdict's named O(corpus)-per-trigger cost)
    private val bcSeed = { seedBroadcasts += 1; s.sparkContext.broadcast(seed) }

    // in-run admissions get their OWN fixed-shape filter (~1.2 MB):
    // per-trigger bloom aggregation must never ship a corpus-sized
    // bit array. Overflowing the fixed expectation only degrades fpp
    // → more rows take the exact join; never wrong.
    private val RecentExpected = 1L << 20
    private val recent = BloomFilter.create(RecentExpected, 0.01)
    // re-broadcast ONLY when an admit mutates it (fixed ~1.2 MB each)
    @volatile private var bcRecent = {
      recentBroadcasts += 1; s.sparkContext.broadcast(recent)
    }

    /** The batch minus everything corpus-known: negatives pass on the
      * blooms alone (map-side probes of the per-run broadcasts);
      * positives exact-verify against the bucketed key table. Keys
      * admitted by THIS `batchId` are excluded from suppression: a
      * replayed trigger that already merged+admitted its own
      * survivors re-dispositions them (the merge is idempotent by
      * key) instead of mis-booking them `_refetch`. The tags live in
      * the PERSISTED key table, so the exclusion also survives a
      * query restart that reseeds via the delta path (the admitted
      * rows keep their batchId; the delta fold only appends
      * corpus-known keys as `-1`). Residual: a FULL reseed (new
      * catalog/corpus swap) rebuilds every key untagged, so only
      * that path loses the exclusion.
      */
    def filterNew(fr0: DataFrame, batchId: Long = -2L): DataFrame = {
      val (bcS, bcR) = (bcSeed, bcRecent)
      val might = udf((k: java.lang.Long) => k != null &&
        (bcS.value.mightContainLong(k) || bcR.value.mightContainLong(k)))
      val fresh = fr0.where(!might(col("doc_id")))
      val known = s.table(table)
        .where(col("batch_id") =!= lit(batchId)).select(col("doc_id"))
      val positive = fr0.where(might(col("doc_id")))
        .join(known, Seq("doc_id"), "left_anti")
      fresh.unionByName(positive)
    }

    /** Fold a batch's admitted keys into both probe structures —
      * O(batch) rows per trigger, and the shipped bloom partials are
      * the fixed recent-admissions shape, never corpus-sized. Keys
      * are tagged with the admitting `batchId` for the replay
      * exclusion above.
      */
    def admit(keys: DataFrame, batchId: Long = -1L): Unit = if (!keys.isEmpty) {
      keys.withColumn("batch_id", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(table)
      recent.mergeInPlace(keys.stat.bloomFilter("doc_id", RecentExpected, 0.01))
      val old = bcRecent
      bcRecent = { recentBroadcasts += 1; s.sparkContext.broadcast(recent) }
      // executor copies of the superseded snapshot are dropped; any
      // straggler frame still holding it re-fetches from the driver
      old.unpersist(blocking = false)
    }
  }

  /** The shared output frame: refreshed per-source corpus accounting
    * plus one count per audit bucket.
    */
  private def accounting(corpus: TxTable, audit: DataFrame): DataFrame = {
    val refreshed = corpus.read().groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("text")).cast("long")).as("sum_bytes"))
      .select(col("source").as("bucket"), col("n_docs"), col("sum_bytes"))
    val buckets = audit.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("bucket"), col("n_docs"), lit(null).cast("long").as("sum_bytes"))
    refreshed.unionAll(buckets).orderBy(col("bucket"))
  }

  def qCrawlRefresh(s: SparkSession, dir: String): DataFrame = {
    // 1+2. fetches from the WARC bytes; frontier dedup on the canon URL
    val fr = frontier(parseFetches(Warc.read(s, crawlFixture(s, dir))))
      .localCheckpoint(eager = false)
    // 3. quality gate (the full Gopher conjunction incl. the keyed
    // top-bigram rule, bucketed by first failing rule)
    val gated = gate(fr).localCheckpoint(eager = false)
    // 4+audit. one disposition frame feeds the merge AND the audit;
    // the one-shot batch sees only the corpus part (the persisted
    // bucketed prefix+sets artifact, never refingerprinted or
    // re-exchanged), mined by the df-ordered prefix plan under the
    // epoch's frozen df
    val dispo = dispositions(gated, Seq(corpusParts(s, dir)),
        Some(corpusDf(s, dir)))
      .localCheckpoint(eager = false)
    // 5. idempotent merge of the survivors
    val t = corpusTable(s, dir)
    t.merge(dispo.where(col("bucket") === "_admitted")
      .select(col("doc_id"), col("source"), col("text")), Seq("doc_id"))
    // 6. refreshed per-source accounting + rejection audit
    accounting(t, auditRows(fr, dispo))
  }

  /** The STREAMING refresh — the same pipeline run continuously as
    * crawl slices arrive: each micro-batch of FETCH rows (the
    * [[parseFetches]] shape: canon_url, doc_id, source, text) is
    * frontier-deduped, gated, dispositioned against the LIVE
    * origin-split postings index, its survivors merged into the
    * corpus table, the gate-passing docs' postings appended to the
    * index (origin 'crawl') so LATER batches apply the greedy
    * drop-later rule against everything gated so far, and the batch's
    * audit rows appended to the audit table.
    *
    * Exactly-once: the corpus merge is idempotent by key, and the
    * index/audit appends are (writerId, batchId)-transactional
    * [[TxTable.appendBatch]]s — a replayed batch re-merges harmlessly
    * and its postings/audit commit once. [[dispositions]]' strict
    * `mo < mn` rule on crawl-origin postings makes a replay's
    * disposition frame identical even when its own postings already
    * landed.
    *
    * Scale: per-trigger work is O(batch) — the frontier agg and gate
    * are batch-local, the index join is bounded by the batch's
    * postings, and the merge touches only admitted rows.
    *
    * Boundary + its switch: frontier dedup is batch-local, so a
    * REFETCH of a canonical URL in a LATER batch is not a `_url_dup`
    * row — left alone it re-dispositions (the near-dup tiers exclude
    * self, the corpus merge is an idempotent same-key update) but the
    * audit counts it again and a configured training-artifact stage
    * would re-append it (a new batchId defeats the txn guard).
    * `suppressRefetch = true` closes this with [[FrontierIndex]] —
    * keyed cross-batch state, exactly the frontier table a
    * re-crawling feed needs: corpus-known fetches are dropped before
    * dispositioning (bloom-negative rows by a map-side probe, bloom-
    * positive rows by an exact anti-join against the doc_id-bucketed
    * key table — O(batch) per trigger, the corpus is never rescanned)
    * and land in a `_refetch` audit bucket. The graded
    * stream-equals-batch law runs WITHOUT suppression and co-batches
    * each page's fetches, the crawl convention (a one-shot batch
    * cannot refetch by construction, so the flag has nothing to equal
    * there).
    */
  /** `baseIndex` optionally supplies the PRE-EXISTING corpus's miner
    * sides straight from the persisted bucketed artifact
    * ([[corpusParts]]) so the heavy side of every trigger's candidate
    * join scans its buckets in place; the TxTable `index` then holds
    * only the stream's own (crawl-origin) per-doc rows. Without it,
    * every index row lives in the TxTable (the spec's synthetic
    * streams) — correct, just re-exchanged. The crawl-origin rows
    * accumulate over a run (per-trigger probe cost grows with the
    * run's cumulative gate-passers, never with the corpus); the epoch
    * rebuild that refreshes the frozen df order also folds them into
    * the bucketed corpus artifact, resetting that accumulation — the
    * same epoch story as the PQ codebooks and the corpus vocabulary.
    */
  def streamRefresh(fetches: DataFrame, corpus: TxTable, index: TxTable,
                    checkpoint: String,
                    audit: Option[TxTable] = None,
                    trainingArtifact: Option[(TxTable, DataFrame)] = None,
                    suppressRefetch: Boolean = false,
                    dfreq: Option[DataFrame] = None,
                    baseIndex: Option[(DataFrame, DataFrame)] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // per-run offset state for the artifact tail: each trigger's pack
    // continuation folds the artifact's change feed (O(delta)), never
    // re-aggregates the stored artifact (O(artifact) at 100 TB)
    val offsetTracker = trainingArtifact.map { case (artifact, _) =>
      new CorpusBuild.OffsetTracker(artifact)
    }
    val frontierIdx =
      if (!suppressRefetch) None
      else Some(new FrontierIndex(fetches.sparkSession, corpus, checkpoint))
    fetches.writeStream
      .queryName("crawl-refresh")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fr0 = frontier(batch).localCheckpoint()
        val fr = frontierIdx match {
          case None => fr0
          case Some(st) => st.filterNew(fr0, batchId).localCheckpoint()
        }
        val gated = gate(fr).localCheckpoint()
        // fingerprint + prefix-cut the batch ONCE: the same frame
        // drives the disposition miner and the index append
        val newRows = indexRows(
          TextAnalysis.docShingleSets(gated.where(col("pass_gate"))),
          dfreq, origin = "crawl").localCheckpoint()
        val dispo = dispositionsFromRows(gated, newRows,
          baseIndex.toSeq :+ indexParts(index.read())).localCheckpoint()
        val survivors = dispo
          .where(col("bucket") === "_admitted")
          .select(col("doc_id"), col("source"), col("text"))
          .localCheckpoint()
        corpus.merge(survivors, Seq("doc_id"))
        // the admitted keys fold into the frontier probe so a LATER
        // batch's refetch of them is suppressed too — O(batch)
        frontierIdx.foreach(_.admit(survivors.select(col("doc_id")), batchId))
        // index rows of every gate-PASSING doc (not just admitted):
        // the batch greedy rule mines pairs over all gated docs, so
        // the stream must too for stream ≡ batch; prefixes were cut
        // under the SAME frozen dfreq as every earlier row
        index.appendBatch(newRows, "crawl-refresh-idx", batchId)
        // suppressed refetches audit per FETCH under `_refetch` (their
        // `_url_dup` accounting is subsumed — every fetch of a
        // suppressed canon was already corpus-known)
        val auditFrame =
          if (!suppressRefetch) auditRows(fr, dispo)
          else auditRows(fr, dispo).unionAll(
            fr0.join(fr.select(col("doc_id")), Seq("doc_id"), "left_anti")
              .select(col("doc_id"), col("source"),
                explode(array_repeat(lit("_refetch"),
                  col("n_fetches").cast("int"))).as("bucket")))
        audit.foreach(_.appendBatch(auditFrame, "crawl-refresh-audit", batchId))
        // optional final stage: the admitted batch lands in the
        // TRAINING ARTIFACT too — frozen-vocab encode + per-source
        // pack continuation ([[CorpusBuild.appendIncrement]]),
        // (writerId, batchId)-transactional so replays append once
        trainingArtifact.foreach { case (artifact, vocab) =>
          CorpusBuild.appendIncrement(artifact, survivors, vocab,
            txn = Some(TxTable.TxnId("crawl-refresh-corpus", batchId)),
            tracker = offsetTracker)
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** The graded STREAM-EQUALS-BATCH run: the same crawl slices as
    * [[qCrawlRefresh]], delivered as ≥2 checkpointed micro-batches
    * through the streaming WARC source WITH A QUERY RESTART between
    * them (slice-1 is copied into the watched directory only after
    * slice-0's run terminates), against fresh corpus/index/audit
    * tables. Returns the identical accounting frame and shares
    * `q_crawl_refresh`'s oracle — the stream-equals-batch law,
    * oracle-enforced end to end (parse, frontier, gate, both near-dup
    * tiers, merge, audit).
    */
  /** The graded streaming run's state: corpus, audit, AND the chained
    * TRAINING ARTIFACT — an epoch-0 artifact built over the existing
    * corpus whose frozen vocabulary encodes every admitted batch
    * ([[CorpusBuild.appendIncrement]] under a (writerId, batchId)
    * txn). Built once per (session, dir); both streaming rows read it.
    */
  private def crawlStreamState(s: SparkSession, dir: String)
      : (TxTable, TxTable, TxTable) =
    IndexCache.scratch(s, "crawl-stream", dir) { base =>
      val corpus = new TxTable(s, s"$base/corpus")
      corpus.append(Tables.load(s, dir, "documents").where(srcNum < 10)
        .select(col("doc_id"), col("source"), col("text")))
      // the corpus side rides the persisted BUCKETED artifact via
      // baseIndex; the TxTable holds only crawl-origin rows
      val index = new TxTable(s, s"$base/index")
      index.create(indexSchema)
      val audit = new TxTable(s, s"$base/audit")
      // the training tail: epoch-0 artifact over the EXISTING corpus;
      // its shipped frozen vocab encodes every admitted increment
      val artifact = CorpusBuild.run(
        Tables.load(s, dir, "documents").where(srcNum < 10)
          .select(col("doc_id"), col("source"), col("text")),
        s"$base/artifact")
      val vocab = s.read.parquet(s"$base/artifact.vocab")
      val src = crawlFixture(s, dir)
      val watch = s"$base/arrivals"
      val fs = new org.apache.hadoop.fs.Path(watch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(watch))
      def arrive(slice: String): Unit =
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(src, slice),
          fs, new org.apache.hadoop.fs.Path(watch, slice),
          false, s.sparkContext.hadoopConfiguration)
      def runOnce(): Unit = streamRefresh(
        parseFetches(Warc.readStream(s, watch, maxFilesPerTrigger = 1)),
        corpus, index, s"$base/ckpt", audit = Some(audit),
        trainingArtifact = Some((artifact, vocab)),
        dfreq = Some(corpusDf(s, dir)),
        baseIndex = Some(corpusParts(s, dir))).awaitTermination()
      arrive("slice-0.warc.gz"); runOnce()
      arrive("slice-1.warc.gz"); runOnce()
      (corpus, audit, artifact)
    }

  def qCrawlRefreshStream(s: SparkSession, dir: String): DataFrame = {
    val (corpus, audit, _) = crawlStreamState(s, dir)
    accounting(corpus, audit.read())
  }

  /** The TRAINING-ARTIFACT TAIL of the streaming refresh, graded:
    * per-doc pack assignment, token count and UNK count over the
    * artifact that the crawl→gate→dedup→merge chain EXTENDED batch by
    * batch — each admitted micro-batch encoded under epoch 0's frozen
    * vocabulary and packed CONTINUING each source's token stream
    * ([[CorpusBuild.appendIncrement]]). The oracle rebuilds epoch 0
    * from the raw corpus ([[CorpusBuild.buildCtes]]) and replays the
    * increment per arrival slice (the fixture's ntile halves), so any
    * drift in admission, encoding, shuffle order, pack continuation
    * or replay shielding breaks the hash — the crawl → tokenize →
    * pack exactness law a nightly training-data feed relies on.
    */
  def qCorpusRefreshed(s: SparkSession, dir: String): DataFrame =
    crawlStreamState(s, dir)._3.read()
      .select(col("doc_id"), col("source"), col("pack_id"), col("n_tokens"),
        size(filter(col("token_ids"), x => x === -1L)).cast("long").as("n_unk"))
      .orderBy(col("doc_id"))

  /** The graded REFETCH-SUPPRESSION run: the same two slices as
    * [[qCrawlRefreshStream]] plus a THIRD arrival that re-fetches
    * corpus-known pages, all under `suppressRefetch = true` (inert for
    * genuinely-new docs — slices 0/1 land exactly as without it). The
    * suppressed stream must produce the batch oracle's accounting plus
    * ONE `_refetch` row, and nothing else may move: corpus, index and
    * audit state are proven refetch-immune by hash, not argument.
    */
  def qCrawlRefreshSuppress(s: SparkSession, dir: String): DataFrame = {
    val (corpus, audit) = IndexCache.scratch(s, "crawl-suppress", dir) { base =>
      val corpus = new TxTable(s, s"$base/corpus")
      corpus.append(Tables.load(s, dir, "documents").where(srcNum < 10)
        .select(col("doc_id"), col("source"), col("text")))
      val index = new TxTable(s, s"$base/index")
      index.create(indexSchema)
      val audit = new TxTable(s, s"$base/audit")
      val watch = s"$base/arrivals"
      val fs = new org.apache.hadoop.fs.Path(watch)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(watch))
      def arrive(srcDir: String, slice: String): Unit =
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(srcDir, slice),
          fs, new org.apache.hadoop.fs.Path(watch, slice),
          false, s.sparkContext.hadoopConfiguration)
      def runOnce(): Unit = streamRefresh(
        parseFetches(Warc.readStream(s, watch, maxFilesPerTrigger = 1)),
        corpus, index, s"$base/ckpt", audit = Some(audit),
        suppressRefetch = true, dfreq = Some(corpusDf(s, dir)),
        baseIndex = Some(corpusParts(s, dir))).awaitTermination()
      val crawl = crawlFixture(s, dir)
      arrive(crawl, "slice-0.warc.gz"); runOnce()
      arrive(crawl, "slice-1.warc.gz"); runOnce()
      arrive(refetchFixture(s, dir), "slice-2.warc.gz"); runOnce()
      (corpus, audit)
    }
    accounting(corpus, audit.read())
  }

  /** WET EXTRACTION — the Common Crawl derived-format job: raw crawl
    * shards (mixed `conversion`/`response` records, noise fetches) in,
    * text-only WET `conversion` records out, re-sharded PER SOURCE
    * through the distributed [[Warc.writeShards]] writer. The graded
    * output parses the WET shards BACK and accounts per doc — record
    * count and payload byte mass — so the whole loop is one hash:
    * the HTTP header strip (a leaked preamble inflates bytes), the
    * status/content-type drop gates (a kept 404/png adds records),
    * and both write→read framing passes. Per-RECORD, no frontier
    * dedup — WET preserves every kept fetch, exactly as the upstream
    * format does.
    *
    * Scale shape: parse is file-granular, the re-shard is one hash
    * repartition on the target shard + in-task streaming emit
    * ([[Warc.writeShards]]'s contract), the accounting one keyed agg.
    */
  private[graft] def wetFixture(s: SparkSession, dir: String): String =
    IndexCache.scratch(s, "warc-wet", dir) { p =>
      val fetches = parseFetches(Warc.read(s, crawlFixture(s, dir)))
      // seq disambiguates the refetch (day-2) record of a page; the
      // record id carries it too (WARC ids must be unique)
      val dupBit = when(col("warc_date") === "2026-01-02T00:00:00Z", 1L)
        .otherwise(0L)
      Warc.writeShards(
        fetches.select(
          concat(lit("wet-"), col("source"), lit(".warc.gz")).as("shard_file"),
          (col("doc_id") * 2 + dupBit).as("seq"),
          lit("conversion").as("warc_type"),
          concat(lit("<urn:uuid:wet-"), col("doc_id").cast("string"), lit("-"),
            dupBit.cast("string"), lit(">")).as("record_id"),
          col("canon_url").as("target_uri"),
          col("warc_date"),
          lit("text/plain").as("content_type"),
          encode(col("text"), "utf-8").as("payload")),
        p)
      p
    }

  def qWarcWet(s: SparkSession, dir: String): DataFrame =
    parseFetches(Warc.read(s, wetFixture(s, dir)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_records"),
        sum(octet_length(col("text")).cast("long")).as("sum_bytes"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_crawl_refresh" -> (qCrawlRefresh _),
    "q_crawl_refresh_stream" -> (qCrawlRefreshStream _),
    "q_crawl_refresh_suppress" -> (qCrawlRefreshSuppress _),
    "q_corpus_refreshed" -> (qCorpusRefreshed _),
    "q_warc_wet" -> (qWarcWet _))

  /** Oracle: the whole refresh recomputed from the parquet corpus —
    * the fetch synthesis + the [[UrlOps]] canonicalization mirror
    * drive an INDEPENDENT frontier dedup, the gate mirrors Curation's
    * counters, both near-dup tiers mirror the IncrementalDedup pair
    * SQL, the refreshed corpus is old ∪ admitted. The streaming
    * variant shares it verbatim (stream ≡ batch). The CTE chain up to
    * `dispo` is exposed so downstream oracles (the refreshed-corpus
    * RAG row) can rebuild the admitted set without duplicating it.
    */
  /** The crawl-slice payload synthesis mirror (the `newd` CTE) —
    * shared by [[refreshCtes]] and the WET-extraction oracle.
    */
  private val newdCte: String =
    s"""newd AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 41 = 0
       |         THEN ${Seq.fill(5)("'the alpha beta gamma delta'").mkString(" || chr(10) || ")}
       |         WHEN doc_id % 43 = 0 THEN '$bigramSpamDoc'
       |         ELSE text END AS text
       |  FROM documents
       |  WHERE CAST(substring(source, 4) AS INT) >= 10)""".stripMargin

  private[ext] val refreshCtes: String =
    s"""$newdCte,
       |fet AS (
       |  SELECT doc_id, source, text, '2026-01-01T00:00:00Z' AS wd,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://' ||
       |    (CASE WHEN doc_id % 3 = 0 THEN 'EXAMPLE.org' ELSE 'example.org' END) ||
       |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
       |    '/' || source || '/' || CAST(doc_id AS VARCHAR) ||
       |    (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x&ref=' || CAST(doc_id % 10 AS VARCHAR)
       |          WHEN doc_id % 6 = 3 THEN '?ref=' || CAST(doc_id % 10 AS VARCHAR) || '&utm_campaign=y'
       |          ELSE '?ref=' || CAST(doc_id % 10 AS VARCHAR) END) ||
       |    (CASE WHEN doc_id % 3 = 1 THEN '#frag' ELSE '' END) AS url
       |  FROM newd
       |  UNION ALL
       |  SELECT doc_id, source, 'refreshed: ' || text AS text,
       |    '2026-01-02T00:00:00Z' AS wd,
       |    'HTTPS://EXAMPLE.org:443/' || source || '/' || CAST(doc_id AS VARCHAR) ||
       |    '?utm_medium=z&ref=' || CAST(doc_id % 10 AS VARCHAR) || '#dup' AS url
       |  FROM newd WHERE doc_id % 37 = 0),
       |cf AS (
       |  ${UrlOps.canonSelectSql("fet", Seq("doc_id", "source", "text", "wd"))}),
       |fr AS (
       |  SELECT canon_url, MIN(doc_id) AS doc_id, MIN(source) AS source,
       |    max_by(text, wd || text) AS text, COUNT(*) AS nf
       |  FROM cf GROUP BY canon_url),
       |gtc AS (
       |  SELECT doc_id, source, text,
       |    list_filter(string_split(replace(text, chr(10), ' '), ' '), x -> x <> '') AS ws,
       |    list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,
       |    CASE WHEN len(list_filter(string_split(replace(text, chr(10), ' '), ' '), x -> x <> '')) >= 2
       |         THEN list_transform(
       |           range(len(list_filter(string_split(replace(text, chr(10), ' '), ' '), x -> x <> '')) - 1),
       |           i -> list_filter(string_split(replace(text, chr(10), ' '), ' '), x -> x <> '')[i + 1] ||
       |             ' ' || list_filter(string_split(replace(text, chr(10), ' '), ' '), x -> x <> '')[i + 2])
       |         ELSE [] END AS bgs
       |  FROM fr),
       |gt AS (
       |  SELECT doc_id, source, text,
       |    CASE
       |      WHEN NOT (len(ws) BETWEEN 20 AND 80) THEN '_gate_words'
       |      WHEN list_sum(list_transform(ws, x -> length(x))) < 3 * len(ws)
       |        OR list_sum(list_transform(ws, x -> length(x))) > 10 * len(ws)
       |        THEN '_gate_word_len'
       |      WHEN 10 * len(list_filter(ws, x -> contains(x, '#'))) > len(ws)
       |        THEN '_gate_symbols'
       |      WHEN 2 * len(list_filter(ls, x -> x LIKE '- %')) >= len(ls)
       |        THEN '_gate_bullets'
       |      WHEN 10 * len(list_filter(ls, x -> x LIKE '%...')) > 3 * len(ls)
       |        THEN '_gate_ellipsis'
       |      WHEN len(list_filter(ws, x -> x IN ${TextAnalysis.stopwordsSql})) < 1
       |        THEN '_gate_stopword'
       |      WHEN 10 * (len(ls) - len(list_distinct(ls))) >= 3 * len(ls)
       |        THEN '_gate_dup_lines'
       |      WHEN 5 * (COALESCE(list_sum(list_transform(ls, x -> length(x))), 0) -
       |                COALESCE(list_sum(list_transform(list_distinct(ls), x -> length(x))), 0))
       |           >= COALESCE(list_sum(list_transform(ls, x -> length(x))), 0)
       |        THEN '_gate_dup_line_chars'
       |      WHEN 2 * COALESCE(list_max(list_transform(list_distinct(bgs),
       |             b -> CASE WHEN len(list_filter(bgs, x -> x = b)) >= 2
       |                       THEN len(list_filter(bgs, x -> x = b)) * length(b)
       |                       ELSE 0 END)), 0)
       |           >= list_sum(list_transform(ws, x -> length(x)))
       |        THEN '_gate_top_bigram'
       |    END AS gate_bucket
       |  FROM gtc),
       |tokn AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM gt WHERE gate_bucket IS NULL),
       |shn AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS shingle
       |  FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM tokn WHERE len(t) >= 3)),
       |szn AS (SELECT doc_id, COUNT(*) AS sz FROM shn GROUP BY doc_id),
       |toko AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents WHERE CAST(substring(source, 4) AS INT) < 10),
       |sho AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS shingle
       |  FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toko WHERE len(t) >= 3)),
       |szo AS (SELECT doc_id, COUNT(*) AS sz FROM sho GROUP BY doc_id),
       |r_old AS (
       |  SELECT DISTINCT p.na AS doc_id
       |  FROM (SELECT a.doc_id AS na, b.doc_id AS ob, COUNT(*) AS c
       |        FROM shn a JOIN sho b ON a.shingle = b.shingle GROUP BY 1, 2) p
       |  JOIN szn sa ON p.na = sa.doc_id
       |  JOIN szo sb ON p.ob = sb.doc_id
       |  WHERE 3 * p.c >= sa.sz + sb.sz),
       |r_new AS (
       |  SELECT DISTINCT p.nb AS doc_id
       |  FROM (SELECT a.doc_id AS na, b.doc_id AS nb, COUNT(*) AS c
       |        FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2) p
       |  JOIN szn sa ON p.na = sa.doc_id
       |  JOIN szn sb ON p.nb = sb.doc_id
       |  WHERE 3 * p.c >= sa.sz + sb.sz),
       |dispo AS (
       |  SELECT doc_id, source, text,
       |    CASE WHEN gate_bucket IS NOT NULL THEN gate_bucket
       |         WHEN doc_id IN (SELECT doc_id FROM r_old) THEN '_neardup_old'
       |         WHEN doc_id IN (SELECT doc_id FROM r_new) THEN '_neardup_new'
       |         ELSE '_admitted' END AS bucket
       |  FROM gt)""".stripMargin

  private val refreshSql: String =
    s"""WITH $refreshCtes,
       |refreshed AS (
       |  SELECT source, text FROM documents WHERE CAST(substring(source, 4) AS INT) < 10
       |  UNION ALL
       |  SELECT source, text FROM dispo WHERE bucket = '_admitted')
       |SELECT source AS bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes
       |FROM refreshed GROUP BY source
       |UNION ALL
       |SELECT bucket, COUNT(*) AS n_docs, NULL AS sum_bytes
       |FROM dispo GROUP BY bucket
       |UNION ALL
       |SELECT '_url_dup', CAST(SUM(nf) - COUNT(*) AS BIGINT), NULL
       |FROM fr HAVING SUM(nf) - COUNT(*) > 0
       |ORDER BY bucket""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_crawl_refresh" -> refreshSql,
    "q_crawl_refresh_stream" -> refreshSql,
    // the suppressed run = the batch accounting + exactly one
    // _refetch row (every slice-2 fetch is corpus-known and dropped
    // by the keyed frontier state before dispositioning). The branch
    // is guarded like _url_dup: zero suppressed fetches ⇒ no row,
    // mirroring the pipeline, which emits no empty buckets.
    "q_crawl_refresh_suppress" ->
      refreshSql.replace("ORDER BY bucket",
        """UNION ALL
          |SELECT '_refetch', cnt, NULL FROM (
          |  SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM documents
          |  WHERE CAST(substring(source, 4) AS INT) < 10 AND doc_id % 13 = 0)
          |WHERE cnt > 0
          |ORDER BY bucket""".stripMargin),
    // the training tail: epoch 0 rebuilt from the raw corpus
    // (CorpusBuild's CTE chain over src0-9), extended with the
    // refresh's admitted set (the refreshCtes dispo chain) encoded
    // under epoch 0's frozen vocab and packed per source CONTINUING
    // the stored stream — the per-batch offsets collapse to one
    // running sum ordered by (arrival half, shuffle_key, doc_id)
    "q_corpus_refreshed" ->
      s"""WITH $refreshCtes,
         |${CorpusBuild.buildCtes("c_", "CAST(substring(source, 4) AS INT) < 10")},
         |halves AS (
         |  SELECT doc_id, NTILE(2) OVER (ORDER BY doc_id) - 1 AS half FROM newd),
         |inc0 AS (
         |  SELECT d.doc_id, d.source, d.text, h.half
         |  FROM dispo d JOIN halves h USING (doc_id)
         |  WHERE d.bucket = '_admitted'),
         |itok AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
         |  FROM inc0),
         |ienc AS (
         |  SELECT itok.doc_id, COUNT(*) AS n_tokens,
         |    CAST(SUM(CASE WHEN c_voc.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
         |  FROM itok LEFT JOIN c_voc ON itok.term = c_voc.term
         |  GROUP BY itok.doc_id),
         |ikey AS (
         |  SELECT inc0.doc_id, inc0.source, inc0.half, ienc.n_tokens, ienc.n_unk,
         |    md5('epoch0:' || CAST(inc0.doc_id AS VARCHAR)) AS sk
         |  FROM inc0 JOIN ienc USING (doc_id)),
         |base0 AS (SELECT source, SUM(n_tokens) AS cum0 FROM c_packed GROUP BY source),
         |ipacked AS (
         |  SELECT k.doc_id, k.source, k.n_tokens, k.n_unk,
         |    (COALESCE(b.cum0, 0) + SUM(k.n_tokens) OVER (PARTITION BY k.source
         |       ORDER BY k.half, k.sk, k.doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - k.n_tokens)
         |      // 256 AS pack_id
         |  FROM ikey k LEFT JOIN base0 b ON k.source = b.source)
         |SELECT doc_id, source, CAST(pack_id AS BIGINT) AS pack_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens, n_unk
         |FROM c_packed
         |UNION ALL
         |SELECT doc_id, source, CAST(pack_id AS BIGINT) AS pack_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens, n_unk
         |FROM ipacked
         |ORDER BY doc_id""".stripMargin,
    // WET accounting from the synthesis alone: every doc contributes
    // its base fetch; %37 docs also the day-2 'refreshed: '-prefixed
    // refetch (11 extra chars); the %53/%59 noise fetches contribute
    // NOTHING (dropped at parse — kept by mistake they'd add records)
    "q_warc_wet" ->
      s"""WITH $newdCte
         |SELECT doc_id,
         |  CAST(1 + (CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_records,
         |  CAST(strlen(text) +
         |    (CASE WHEN doc_id % 37 = 0 THEN 11 + strlen(text) ELSE 0 END)
         |    AS BIGINT) AS sum_bytes
         |FROM newd ORDER BY doc_id""".stripMargin)
}
