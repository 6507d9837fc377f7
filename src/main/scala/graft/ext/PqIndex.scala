package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{NearestCell, PqAdcScore}

/** Product quantization (Jégou et al., TPAMI'11) — the memory side of
  * a billion-scale ANN index, complementing the cell-pruning side
  * ([[IvfIndex]]) and the bucketing side (sign-LSH in [[Similarity]]).
  *
  * The vector is split into `m` subvectors; each subspace gets its own
  * tiny k-means codebook; a vector's code is the m nearest
  * sub-centroid ids (here m=8 ints — a production layout packs them
  * into m bytes, 32× smaller than 64 floats). Queries score codes via
  * the ADC lookup table ([[graft.functions.PqAdcScore]]) without ever
  * touching the original vectors.
  *
  * 100 TB shape: codebooks train DRIVER-SIDE on a fixed sample —
  * exactly how production PQ systems do it (a few 100k samples, one
  * node) — then travel as plan literals; encoding is one map-side
  * projection of m [[NearestCell]] argmins; the query scan reads only
  * the code column. Training cost is independent of corpus size.
  */
object PqIndex {

  /** Deterministic driver-side Lloyd iterations per subspace.
    * Init = first k distinct subvectors in sample order; empty
    * clusters keep their previous centroid; ties in assignment go to
    * the lower centroid index (same rule as [[NearestCell]]).
    */
  def trainSubCodebooks(sample: Array[Array[Float]], m: Int, k: Int,
                        iters: Int = 8): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val d = dim / m
    Array.tabulate(m) { j =>
      val subs = sample.map(v => Array.tabulate(d)(i => v(j * d + i).toDouble))
      kmeans(subs, k, iters)
    }
  }

  private def kmeans(xs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val d = xs.head.length
    var cents = xs.map(_.toSeq).distinct.take(k).map(_.toArray)
    def assign(x: Array[Double]): Int = {
      var best = 0; var bd = Double.PositiveInfinity
      var c = 0
      while (c < cents.length) {
        var s = 0.0; var i = 0
        while (i < d) { val t = x(i) - cents(c)(i); s += t * t; i += 1 }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      best
    }
    (1 to iters).foreach { _ =>
      val sums = Array.fill(cents.length)(new Array[Double](d))
      val counts = new Array[Long](cents.length)
      xs.foreach { x =>
        val c = assign(x)
        counts(c) += 1
        var i = 0
        while (i < d) { sums(c)(i) += x(i); i += 1 }
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0L) cents(c)
        else Array.tabulate(d)(i => sums(c)(i) / counts(c))
      }.toArray
    }
    cents
  }

  /** Code column: m nearest-sub-centroid ids from m map-side argmins
    * over sliced subvectors (1-based slice positions).
    */
  def encodeExpr(vec: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val d = codebooks.head.head.length
    array((0 until m).map(j => NearestCell(slice(vec, j * d + 1, d), codebooks(j))): _*)
  }

  /** The query's ADC table: partial squared L2 distance from each of
    * the query's subvectors to every sub-centroid.
    */
  def adcTable(query: Array[Float], codebooks: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val d = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (cb, j) =>
      cb.map { cent =>
        var s = 0.0; var i = 0
        while (i < d) { val t = query(j * d + i).toDouble - cent(i); s += t * t; i += 1 }
        s
      }
    }
  }

  /** PQ L2 top-10 neighbors of vec_id 0, in the standard two-stage
    * ADC+R shape:
    *
    *   1. shortlist: ADC scoring + TakeOrdered top-`shortlist`, no
    *      shuffle. HERE the encode runs on the fly (the scan still
    *      reads the float vectors — this demo has no materialized code
    *      table); at 100 TB you write the code column once
    *      ([[encodeExpr]] + [[graft.core.Layout.writeClustered]]) and
    *      stage 1 scans ONLY the m-int codes — 32× less I/O — which
    *      is the entire point of PQ;
    *   2. re-rank: exact quantized-L2 on just the broadcast shortlist.
    *
    * Isotropic random vectors (this corpus) are PQ's worst case —
    * distance concentration makes raw ADC ranks noisy — which is
    * exactly why production PQ always re-ranks a shortlist. The
    * registry runs shortlist=512 ≥ corpus size at the gate SFs, so the
    * re-rank provably covers the exact top-k and the result carries
    * the exact quantized-L2 oracle; the tight-shortlist approximate
    * config is recall-asserted in PqSpec.
    */
  def annPq(s: SparkSession, dir: String, shortlist: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    adcShortlistRerank(emb, emb.filter($"vec_id" =!= 0), trainedCodebooks(emb, dir),
      queryVec(emb), shortlist)
  }

  /** Corpus-covering shortlist for the on-the-fly exact modes —
    * same enforcement as [[exactServeParams]] but counted off the
    * embeddings table itself (memoized; parquet footer count).
    */
  private def exactShortlist(s: SparkSession, dir: String): Int = {
    val n = graft.core.IndexCache.memo[java.lang.Long](
      s"emb-count:${s.sparkContext.applicationId}:$dir") {
      Long.box(Tables.load(s, dir, "embeddings").count())
    }.longValue
    require(n <= Int.MaxValue, s"exact mode cannot cover $n vectors")
    math.max(512L, n).toInt
  }

  /** Registry entry: full-shortlist exact mode (see [[annPq]]);
    * the shortlist is derived from the corpus count so exactness is
    * enforced at every SF, never assumed.
    */
  def qAnnPq(s: SparkSession, dir: String): DataFrame =
    annPq(s, dir, shortlist = exactShortlist(s, dir))

  /** Capped deterministic training sample → sub-codebooks (bounded
    * driver traffic whatever the corpus size; production PQ trains on
    * ~100k vectors max). Built once per (dir, params) process-wide
    * ([[graft.core.IndexCache]]) — the PQ and IVF+PQ queries share one
    * codebook set, as a serving system would.
    */
  private def trainedCodebooks(emb: DataFrame, dir: String): Array[Array[Array[Double]]] = {
    // key derives from the SAME values passed to the sampler/trainer —
    // a param change at the call site can never serve stale codebooks
    val (m, k, cap, sampleMod) = (8, 16, 4096, 2)
    graft.core.IndexCache.memo(s"pq:$dir:sample=mod${sampleMod}cap$cap:m=$m:k=$k") {
      val s = emb.sparkSession
      import s.implicits._
      val sample = emb.where($"vec_id" % sampleMod === 0).orderBy($"vec_id").limit(cap)
        .select($"embedding").as[Array[Float]].collect()
      trainSubCodebooks(sample, m = m, k = k)
    }
  }

  private def queryVec(emb: DataFrame): Array[Float] = {
    val s = emb.sparkSession
    import s.implicits._
    emb.filter($"vec_id" === 0).select($"embedding").as[Array[Float]].head()
  }

  /** The shared ADC+R tail: score `candidates` by ADC over on-the-fly
    * codes, TakeOrdered top-`shortlistN`, then exact re-rank of the
    * broadcast shortlist against the full table. One definition so the
    * full-scan and IVF-pruned queries can never diverge.
    */
  private def adcShortlistRerank(emb: DataFrame, candidates: DataFrame,
                                 codebooks: Array[Array[Array[Double]]],
                                 query: Array[Float], shortlistN: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val table = adcTable(query, codebooks)
    val shortlist = candidates
      .select($"vec_id",
        PqAdcScore(encodeExpr($"embedding", codebooks), table).as("adc_dist"))
      .orderBy($"adc_dist".asc, $"vec_id")
      .limit(shortlistN)
    exactRerank(emb, shortlist, query)
  }

  /** Stage 2 of ADC+R, shared by the on-the-fly and materialized
    * paths — ONE definition so they can never diverge (the identity
    * of the two paths is asserted in PqSpec). Distances are the
    * QUANTIZED L2: Σ (floor(a·2²⁰) − floor(b·2²⁰))² in exact int64 —
    * order-independent integer math both engines reproduce bit-for-bit
    * (a raw-double Σ(a−b)² depends on summation order, which SQL
    * aggregation does not pin), the same engine-independence recipe as
    * [[graft.functions.QuantizedCosine]]. Bounds: |v| ≤ 2²⁰ ⇒ diff² ≤
    * 2⁴², ×64 dims ≤ 2⁴⁸ — no overflow.
    */
  private def exactRerank(emb: DataFrame, shortlist: DataFrame,
                          query: Array[Float]): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val qlit = array(query.map(x => lit(x.toDouble)).toIndexedSeq: _*)
    val distQ = aggregate(
      zip_with($"embedding", qlit, (x, y) => {
        val d = floor(x.cast("double") * lit(1048576.0d)) - floor(y * lit(1048576.0d))
        d * d
      }),
      lit(0L), (acc, v) => acc + v)
    emb.join(broadcast(shortlist.select($"vec_id")), "vec_id")
      // nulls LAST: a truncated vector folds to NULL dist and must
      // rank like PqAdcScore's +Infinity, not win on nulls-first
      .select($"vec_id", distQ.as("dist_q"))
      .orderBy($"dist_q".asc_nulls_last, $"vec_id")
      .limit(10)
  }

  /** IVF + PQ composed — the canonical billion-scale ANN layout
    * (FAISS's IVFADC, modulo residual encoding, which production
    * systems add on top of this exact shape): the coarse quantizer
    * prunes the scan to nProbe cells, ADC scores only those cells'
    * codes, and the exact re-rank touches ~100 vectors. Cell
    * assignment and PQ encoding are both map-side [[NearestCell]]
    * projections; at scale the table is clustered by `cell` with a
    * materialized code column, so the stage-1 scan reads a pruned
    * partition set of m-int codes.
    */
  def annIvfPq(s: SparkSession, dir: String, nProbe: Int, shortlist: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    // same cached coarse quantizer as q_ann_ivf — one index, many queries
    val centroids = IvfIndex.trainedCentroids(s, dir)
    val query = queryVec(emb)
    val cells = IvfIndex.probeCells(query.map(_.toDouble), centroids, nProbe)
    val pruned = emb
      .withColumn("cell", IvfIndex.assignCell($"embedding", centroids))
      .where($"cell".isin(cells.map(Integer.valueOf): _*) && $"vec_id" =!= 0)
    adcShortlistRerank(emb, pruned, trainedCodebooks(emb, dir), query, shortlist)
  }

  /** Registry entry: exhaustive probe + corpus-covering shortlist —
    * the exact mode of the composed index (every cell scanned,
    * shortlist derived from the corpus count ⇒ provably exact top-k,
    * same oracle as q_ann_pq); the pruned nProbe=8 config is asserted
    * in PqSpec.
    */
  def qAnnIvfPq(s: SparkSession, dir: String): DataFrame =
    annIvfPq(s, dir, nProbe = IvfIndex.trainedCentroids(s, dir).length,
      shortlist = exactShortlist(s, dir))

  /** MATERIALIZE the PQ index — the production layout the on-the-fly
    * demos reference: one row per vector holding its coarse cell and
    * m-int code, written `partitionBy(cell)`. Encoding is a single
    * map-side projection (two [[NearestCell]] families over the same
    * scan); the write is the one-time cost that buys every subsequent
    * query a scan of m ints instead of 64 floats, with nProbe cell
    * pruning becoming partition pruning on disk.
    */
  /** (vec_id, cell, code) for `vecs` under the index's FROZEN
    * quantizers — one map-side projection (two [[NearestCell]]
    * families over the same scan); shared by the full build and the
    * incremental append so the two can never encode differently.
    */
  private def encodeFrame(s: SparkSession, dir: String, vecs: DataFrame): DataFrame = {
    import s.implicits._
    val codebooks = trainedCodebooks(Tables.load(s, dir, "embeddings"), dir)
    val centroids = IvfIndex.trainedCentroids(s, dir)
    vecs.select($"vec_id",
      IvfIndex.assignCell($"embedding", centroids).as("cell"),
      encodeExpr($"embedding", codebooks).as("code"))
  }

  def writeIndex(s: SparkSession, dir: String, targetDir: String): Unit =
    encodeFrame(s, dir, Tables.load(s, dir, "embeddings"))
      .write.mode("overwrite").partitionBy("cell").parquet(targetDir)

  /** INCREMENTAL INDEX MAINTENANCE — the FAISS `add()` shape: encode
    * `newVecs` with the index's FROZEN codebooks/centroids and APPEND
    * into the cell-partitioned code table. Old code files are never
    * rewritten and existing codes never move — the invariant a
    * serving fleet relies on while the index stays live; quantizer
    * drift against the grown corpus is repaired by a full retrain,
    * the PQ analog of the corpus epoch rebuild
    * ([[CorpusBuild.qCorpusEpochDelta]]). At 100 TB the append is one
    * map pass over the new vectors landing files under their cell
    * partitions; serving reads are unchanged (cell pruning keeps
    * working because assignment used the same frozen coarse
    * quantizer).
    */
  def appendIndex(s: SparkSession, dir: String, indexDir: String,
                  newVecs: DataFrame): Unit =
    encodeFrame(s, dir, newVecs)
      .write.mode("append").partitionBy("cell").parquet(indexDir)

  /** ADC+R over the MATERIALIZED index: stage 1 scans only the probed
    * cell partitions of the code table (never the float vectors —
    * `ReadSchema` is (vec_id, code), asserted in PqSpec); stage 2
    * re-ranks the broadcast shortlist against the full table exactly
    * as the on-the-fly form. Same cached codebooks/centroids as
    * [[qAnnIvfPq]], so the two paths return identical neighbors.
    */
  /** Stage 1 of the persisted-index serving path: ADC-score the
    * on-disk code table over the probed cell partitions and return
    * the (vec_id, adc_dist) shortlist — the float vectors are never
    * read here (ReadSchema (vec_id, code); cell pruning = partition
    * pruning). Shared by [[qAnnPqIndexed]] (quantized-L2 rerank) and
    * [[Similarity.qRagIndexed]] (cosine rerank + document join).
    */
  private[ext] def indexShortlist(s: SparkSession, dir: String, indexDir: String,
                                  nProbe: Int, shortlistN: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val codebooks = trainedCodebooks(emb, dir)
    val centroids = IvfIndex.trainedCentroids(s, dir)
    val query = queryVec(emb)
    val cells = IvfIndex.probeCells(query.map(_.toDouble), centroids, nProbe)
    val table = adcTable(query, codebooks)
    s.read.parquet(indexDir)
      .where($"cell".isin(cells.map(Integer.valueOf): _*) && $"vec_id" =!= 0)
      .select($"vec_id", PqAdcScore($"code", table).as("adc_dist"))
      .orderBy($"adc_dist".asc, $"vec_id")
      .limit(shortlistN)
  }

  def qAnnPqIndexed(s: SparkSession, dir: String, indexDir: String,
                    nProbe: Int = 8, shortlistN: Int = 512): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    exactRerank(emb, indexShortlist(s, dir, indexDir, nProbe, shortlistN),
      queryVec(emb))
  }

  /** The persisted index artifact, built ONCE per (session, dir) —
    * the "build once, persist, serve" index lifecycle a production
    * ANN system runs ([[graft.core.IndexCache]], same fixture pattern
    * as the chain-built ACID tables). The graded artifact is the
    * SERVING read, not the build.
    */
  private[graft] def persistedIndexDir(s: SparkSession, dir: String): String =
    graft.core.IndexCache.scratch(s, "pq-index-dir", dir) { p =>
      writeIndex(s, dir, p)
      p
    }

  /** The indexed-vector count of a persisted code table (parquet
    * footer metadata — no data scan), memoized per artifact. The
    * EXACT-mode entry points DERIVE their probe/shortlist from the
    * index itself so the "shortlist covers every candidate"
    * precondition is enforced rather than assumed — at a larger SF a
    * fixed shortlist would let ADC misranking push a true top-k
    * neighbor out of the shortlist while the row is still graded
    * against an exact oracle.
    */
  private def indexedCount(s: SparkSession, indexDir: String): Long =
    graft.core.IndexCache.memo[java.lang.Long](
      s"pq-index-count:${s.sparkContext.applicationId}:$indexDir") {
      Long.box(s.read.parquet(indexDir).count())
    }.longValue

  /** Exhaustive probe + index-covering shortlist for an exact serving
    * read: nProbe = every coarse cell, shortlist = the indexed count
    * (floored at 512 so tiny fixtures keep the production shape).
    */
  private[ext] def exactServeParams(s: SparkSession, dir: String,
                                    indexDir: String): (Int, Int) = {
    val nCells = IvfIndex.trainedCentroids(s, dir).length
    val n = indexedCount(s, indexDir)
    require(n <= Int.MaxValue, s"exact serving mode cannot cover $n vectors")
    (nCells, math.max(512L, n).toInt)
  }

  /** Registry entry: the persisted-index SERVING path in its exact
    * mode — stage 1 scans only the on-disk code table (cell-pruned,
    * floats-free; plan shape asserted in PqSpec), exhaustive probe +
    * index-covering shortlist ([[exactServeParams]]) ⇒ provably exact
    * top-k, same oracle as q_ann_pq. This is the path a real pipeline
    * runs: the graded ANN rows above rebuild codes on the fly; here
    * the index is a durable artifact answering many queries.
    */
  def qAnnPqServe(s: SparkSession, dir: String): DataFrame = {
    val idx = persistedIndexDir(s, dir)
    val (np, sl) = exactServeParams(s, dir, idx)
    qAnnPqIndexed(s, dir, idx, nProbe = np, shortlistN = sl)
  }

  /** The GROWN index: built over the odd half of the corpus, then the
    * even half (query vector included) APPENDED under the frozen
    * quantizers — the maintenance lifecycle a live ANN service runs
    * nightly. Built once per (session, dir); the pre-append file set
    * rides along for the append-only law in PqSpec.
    */
  private[graft] def appendedIndexDir(s: SparkSession, dir: String): (String, Set[String]) =
    graft.core.IndexCache.scratch(s, "pq-index-append", dir) { p =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      encodeFrame(s, dir, emb.where($"vec_id" % 2 === 1))
        .write.mode("overwrite").partitionBy("cell").parquet(p)
      // pre-append fingerprint via the Hadoop FS (works on any store,
      // not just local disk): path@length per data file
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      def files(): Set[String] = {
        val it = fs.listFiles(hp, true)
        val b = Set.newBuilder[String]
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.contains("parquet"))
            b += s"${f.getPath}@${f.getLen}"
        }
        b.result()
      }
      val before = files()
      appendIndex(s, dir, p, emb.where($"vec_id" % 2 === 0))
      (p, before)
    }

  /** Registry entry: exact serving from the GROWN index — the
    * appended half must be indistinguishable from a from-scratch
    * build at query time (same exact top-10 oracle as every PQ row).
    */
  def qAnnPqAppendServe(s: SparkSession, dir: String): DataFrame = {
    val idx = appendedIndexDir(s, dir)._1
    val (np, sl) = exactServeParams(s, dir, idx)
    qAnnPqIndexed(s, dir, idx, nProbe = np, shortlistN = sl)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_pq" -> (qAnnPq _),
    "q_ann_ivfpq" -> (qAnnIvfPq _),
    "q_ann_pq_indexed" -> (qAnnPqServe _),
    "q_ann_pq_append" -> (qAnnPqAppendServe _),
  )

  /** Exact quantized-L2 top-10 of vec_id 0 — both PQ paths run their
    * exact configuration in the registry, so one oracle serves both.
    */
  private val exactTopKL2Sql: String =
    s"""WITH ${Similarity.quantCtes},
       |dist AS (
       |  SELECT a.vec_id, CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS dist_q
       |  FROM qn a JOIN qn b ON a.i = b.i AND b.vec_id = 0
       |  WHERE a.vec_id <> 0 GROUP BY a.vec_id)
       |SELECT vec_id, dist_q FROM dist
       |ORDER BY dist_q ASC, vec_id LIMIT 10""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_ann_pq" -> exactTopKL2Sql,
    "q_ann_ivfpq" -> exactTopKL2Sql,
    "q_ann_pq_indexed" -> exactTopKL2Sql,
    "q_ann_pq_append" -> exactTopKL2Sql,
  )
}
