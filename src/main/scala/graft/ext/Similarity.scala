package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Similarity search over the `embeddings` table (64-dim float
  * vectors).
  *
  * Oracle-checked scores use [[graft.functions.QuantizedCosine]]
  * (`cosq = floor(cos·10⁴)` from integer-quantized components — see
  * its Scaladoc for the engine-independence argument); raw-double
  * cosine ([[graft.functions.CosineSimilarity]]) stays on the
  * rows-only ANN paths. Vector math otherwise is higher-order array
  * functions (`zip_with`/`transform`/`aggregate`), which Catalyst
  * evaluates without UDF serialization overhead.
  *
  * Scale design: brute-force top-k is the baseline (one pass, no
  * shuffle besides TakeOrdered); the 100 TB path is
  * [[annCandidates]] — sign-LSH bucketing so a query only scans its
  * bucket (and 1-bit-probe neighbors), turning O(N) scans into
  * O(N / 2^bits) with the bucket id as a partition/cluster key.
  */
object Similarity {

  /** Sequential-fold dot product of two array columns, in double
    * (higher-order builtins; used where inputs are mixed float/double
    * such as the literal LSH hyperplanes).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine over float vectors: the native codegen'd expression
    * ([[graft.functions.CosineSimilarity]] — one fused loop instead
    * of three array traversals); bit-identical to the fold form.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  private def emb(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "embeddings")

  /** Brute-force cosine top-10 neighbors of vec_id 0. The single query
    * row is broadcast; the scan stays whole-stage-codegen'd; LIMIT
    * after ORDER BY plans as TakeOrderedAndProject (no global sort).
    */
  def qCosineTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    e.filter($"vec_id" =!= 0)
      .join(broadcast(q))
      .select($"vec_id",
        graft.functions.QuantizedCosine($"embedding", $"qvec").as("cosq"))
      .orderBy($"cosq".desc, $"vec_id")
      .limit(10)
  }

  /** RAG RETRIEVAL — vector search that returns DOCUMENTS, not ids:
    * the query vector's exact top-5 neighbors (the rerank stage every
    * ANN pipeline ends with — at scale the candidate set comes from
    * the IVF/PQ shortlist, [[PqIndex.qAnnIvfPq]], and this join is
    * unchanged) resolved against the corpus for rank, similarity,
    * language and the text snippet a retrieval consumer consumes.
    * The k-row hit list broadcasts into the corpus join; the rank
    * window runs over k rows, bounded by construction.
    */
  def qRagRetrieve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val top = e.filter($"vec_id" =!= 0)
      .join(broadcast(q))
      .select($"vec_id",
        graft.functions.QuantizedCosine($"embedding", $"qvec").as("cosq"))
      .orderBy($"cosq".desc, $"vec_id").limit(5)
      .withColumn("rank",
        row_number().over(Window.orderBy($"cosq".desc, $"vec_id")).cast("long"))
    broadcast(top)
      .join(Tables.load(s, dir, "documents"), $"vec_id" === col("doc_id"))
      .select($"rank", $"vec_id", $"cosq", col("lang"),
        substring(col("text"), 1, 40).as("snippet"))
      .orderBy($"rank")
  }

  /** RAG retrieval SERVED FROM THE PERSISTED ANN INDEX — the
    * production path [[qRagRetrieve]]'s brute-force scan stands in
    * for: stage 1 shortlists from the cell-partitioned on-disk PQ
    * code table ([[PqIndex.indexShortlist]], exhaustive-probe exact
    * mode — ReadSchema (vec_id, code), the float vectors never enter
    * the candidate scan); stage 2 exact-reranks ONLY the broadcast
    * shortlist by the engine-exact quantized cosine; stage 3 is the
    * same k-row document join. Same oracle as q_rag_retrieve — the
    * index path must return the identical retrieval, end to end.
    *
    * At 100 TB: stage 1 reads nProbe/k of an m-int-per-vector table
    * (partition-pruned); stage 2 touches 512 float rows; stage 3 is a
    * k-row broadcast into the corpus join. The embeddings table never
    * feeds a full cosine pass — that is the entire point of serving
    * from the index (asserted plan-shape-wise in PqSpec).
    */
  def qRagIndexed(s: SparkSession, dir: String): DataFrame =
    ragFromIndex(s, dir, PqIndex.persistedIndexDir(s, dir))

  /** The shared index-serving RAG tail — one definition so the
    * full-corpus ([[qRagIndexed]]) and refreshed-corpus
    * ([[qRagRefreshed]]) paths can never diverge. Exact mode is
    * enforced, not assumed: exhaustive probe + a shortlist derived
    * from the indexed count ([[PqIndex.exactServeParams]]).
    */
  private def ragFromIndex(s: SparkSession, dir: String, idxDir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, dir)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val (np, sl) = PqIndex.exactServeParams(s, dir, idxDir)
    val shortlist = PqIndex.indexShortlist(s, dir, idxDir,
      nProbe = np, shortlistN = sl)
    val top = e.join(broadcast(shortlist.select($"vec_id")), "vec_id")
      .join(broadcast(q))
      .select($"vec_id",
        graft.functions.QuantizedCosine($"embedding", $"qvec").as("cosq"))
      .orderBy($"cosq".desc, $"vec_id").limit(5)
      .withColumn("rank",
        row_number().over(Window.orderBy($"cosq".desc, $"vec_id")).cast("long"))
    broadcast(top)
      .join(Tables.load(s, dir, "documents"), $"vec_id" === col("doc_id"))
      .select($"rank", $"vec_id", $"cosq", col("lang"),
        substring(col("text"), 1, 40).as("snippet"))
      .orderBy($"rank")
  }

  /** The REFRESHED-corpus serving index — the serving loop closed
    * across an increment: the composed crawl refresh
    * ([[CrawlRefresh.qCrawlRefresh]], idempotent) admits documents;
    * the index is then built over the OLD corpus slice's embeddings
    * and the ADMITTED slice's embeddings APPEND under the frozen
    * quantizers ([[PqIndex.appendIndex]] — old code files immutable,
    * the q_ann_pq_append lifecycle). Built once per (session, dir).
    * At 100 TB this is the nightly loop a retrieval fleet runs:
    * crawl → curate → encode-under-frozen-codebooks → append cells —
    * never a rebuild, never a full-corpus re-encode.
    */
  private[graft] def refreshedIndexDir(s: SparkSession, dir: String): String =
    graft.core.IndexCache.scratch(s, "rag-refreshed-idx", dir) { p =>
      import s.implicits._
      // the refresh's merge runs during the call (idempotent; shares
      // the session-wide fixtures with the graded refresh rows)
      CrawlRefresh.qCrawlRefresh(s, dir)
      val corpus = CrawlRefresh.corpusTable(s, dir).read()
      val srcNum = substring(col("source"), 4, 10).cast("int")
      def embOf(ids: DataFrame) = emb(s, dir).join(
        ids.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      PqIndex.appendIndex(s, dir, p, embOf(corpus.where(srcNum < 10)))
      PqIndex.appendIndex(s, dir, p, embOf(corpus.where(srcNum >= 10)))
      p
    }

  /** Registry entry: retrieval over the refreshed corpus served from
    * the grown index must equal brute force over exactly
    * old ∪ admitted — crawl → index → serve stays exact across the
    * increment, oracle-enforced.
    */
  def qRagRefreshed(s: SparkSession, dir: String): DataFrame =
    ragFromIndex(s, dir, refreshedIndexDir(s, dir))

  /** Per-label centroid, emitted as (label, dim, sum_scaled, n) with
    * values quantized to floor(x·2²⁰) longs — exact float→double
    * scaling plus engine-unambiguous floor (round()'s half-way rule
    * varies across engines/versions); callers divide
    * sum_scaled/(2²⁰·n) for the double centroid. Plans as posexplode
    * + one hash aggregate.
    */
  def qEmbeddingCentroid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    emb(s, dir)
      .select($"label", posexplode($"embedding").as(Seq("dim0", "e")))
      .groupBy($"label", ($"dim0" + 1).cast("long").as("dim"))
      .agg(
        sum(floor($"e".cast("double") * lit(1048576.0d))).as("sum_scaled"),
        count(lit(1)).as("n"))
      .orderBy($"label", $"dim")
  }

  /** Embedding-cosine near-duplicate pairs with label blocking: only
    * same-label pairs are compared (the blocking-key pattern — at
    * 100 TB the blocking key is an LSH bucket / IVF cell, never a full
    * cross product). Threshold cosq ≥ 4000 (cos ≥ 0.40), chosen for
    * this corpus (random vectors, max intra-label cosine ≈ 0.47).
    */
  def qCosineDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cosineDupPairs(s, dir).orderBy($"vec_a", $"vec_b")
  }

  /** [[qCosineDups]]' mining body without the graded output sort —
    * what [[cosinePairsTable]] materializes for cluster-level
    * consumers ([[DedupClusters.qSemanticDedup]]).
    */
  private[ext] def cosineDupPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir).select($"vec_id", $"label", $"embedding")
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        graft.functions.QuantizedCosine(col("a.embedding"), col("b.embedding")).as("cosq"))
      .where($"cosq" >= 4000)
  }

  /** The embedding near-dup PAIR table — [[qCosineDups]]' mining body
    * materialized once per (session, dir), the same at-ingest artifact
    * lifecycle as [[graft.ext.TextAnalysis.jaccardPairsTable]]: a
    * production semantic-dedup pipeline scores its O(blocked-pairs)
    * cosine set once and the cluster pass reads that table. The
    * mining query itself (`q_cosine_dups`) never reads the memo — it
    * keeps measuring the mining work — and the build is eager, so its
    * cost lands in the memo's [[graft.core.ArtifactCost]] entry.
    */
  private[ext] def cosinePairsTable(s: SparkSession, dir: String): DataFrame =
    graft.core.IndexCache.memo(
      s"cosine-pairs:${s.sparkContext.applicationId}:$dir") {
      cosineDupPairs(s, dir).localCheckpoint(eager = true)
    }

  /** kNN similarity join: top-`k` neighbors of every row of
    * `vectors` among rows sharing its `blockCol` value, scored by the
    * engine-exact quantized cosine. Output: (idCol, nbr, cosq, rk)
    * with rk 1-based, ties broken on the lower neighbor id.
    * The rank filter plans with Spark 4's two-phase
    * `WindowGroupLimit`: each map partition keeps only its local
    * top-k per id BEFORE the exchange, so the shuffled volume is
    * O(k·N), not O(pairs).
    */
  def knnJoin(vectors: DataFrame, blockCol: String, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vectors.select(col(idCol), col(blockCol), col(vecCol))
    val pairs = e.as("a").join(e.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as(idCol), col(s"b.$idCol").as("nbr"),
        graft.functions.QuantizedCosine(col(s"a.$vecCol"), col(s"b.$vecCol")).as("cosq"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("cosq").desc, col("nbr"))
    pairs
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** Per-vector top-3 neighbors within the label block (label here ≙
    * an IVF cell / LSH bucket at 100 TB — the same blocking argument
    * as [[qCosineDups]], but producing the per-row top-k a
    * retrieval-augmentation or SemDeDup-style pipeline consumes
    * rather than a global threshold).
    */
  def qKnnJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    knnJoin(emb(s, dir), "label", "vec_id", "embedding", k = 3)
      .orderBy($"vec_id", $"rk")
  }

  /** Deterministic sign-LSH hyperplanes (seeded, fixed across runs). */
  private[ext] def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  private def planeLit(p: Array[Double]): Column = array(p.map(lit(_)).toIndexedSeq: _*)

  /** Adds an LSH `bucket` column: one sign bit per hyperplane packed
    * into an int. At scale, write the table clustered by this column.
    */
  def withLshBucket(df: DataFrame, vecCol: String, planes: Array[Array[Double]]): DataFrame = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dot(col(vecCol), planeLit(p)) >= 0, lit(1 << i)).otherwise(lit(0))
    }
    df.withColumn("bucket", bits.reduce(_ + _))
  }

  /** ANN candidate set for a query bucket: buckets within Hamming
    * distance `probeRadius` of the query's bucket. radius 1 (default)
    * is classic multi-probe — same bucket + 1-bit flips, scanning
    * ~(nPlanes+1)/2^nPlanes of the data; radius ≥ nPlanes is the
    * EXHAUSTIVE probe (every bucket qualifies, so no filter at all) —
    * the exact-search mode every ANN library exposes, degenerating to
    * a full scan by construction.
    */
  def annCandidates(bucketed: DataFrame, queryBucket: Int, nPlanes: Int,
                    probeRadius: Int = 1): DataFrame =
    if (probeRadius >= nPlanes) bucketed
    else {
      val probes = (0 until (1 << nPlanes))
        .filter(b => Integer.bitCount(b ^ queryBucket) <= probeRadius)
      bucketed.where(col("bucket").isin(probes.map(Integer.valueOf): _*))
    }

  /** Cosine top-10 for vec_id 0 through the sign-LSH bucketing path.
    * `probeRadius` trades scan fraction for recall; the registry runs
    * the EXHAUSTIVE probe (radius = nPlanes), which provably returns
    * the exact top-k — that is what licenses the q_cosine_topk oracle
    * — while the radius-1 pruned config is recall-asserted in
    * IvfSpec. Scores are the engine-exact quantized cosine so the
    * DuckDB comparison is bit-stable.
    */
  def annLsh(s: SparkSession, dir: String, probeRadius: Int): DataFrame = {
    import s.implicits._
    val nPlanes = 8
    val planes = hyperplanes(nPlanes, 64)
    val e = withLshBucket(emb(s, dir), "embedding", planes)
    val qRow = e.filter($"vec_id" === 0).select($"embedding", $"bucket").head()
    val qBucket = qRow.getInt(1)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    annCandidates(e, qBucket, nPlanes, probeRadius)
      .filter($"vec_id" =!= 0)
      .join(broadcast(q))
      .select($"vec_id",
        graft.functions.QuantizedCosine($"embedding", $"qvec").as("cosq"))
      .orderBy($"cosq".desc, $"vec_id")
      .limit(10)
  }

  /** Registry entry: exhaustive-probe exact mode (see [[annLsh]]). */
  def qAnnLsh(s: SparkSession, dir: String): DataFrame = annLsh(s, dir, probeRadius = 8)

  /** K-MEANS ASSIGNMENT (document clustering): every vector assigned
    * to its nearest of `k` fixed seed centroids (the vectors with the
    * k smallest ids — deterministic seeding, the same convention
    * k-means|| implementations expose as a fixed-seed mode), scored by
    * the engine-exact quantized cosine, ties to the lower centroid id.
    * Output: per cluster, member count and the exact integer sum of
    * member scores (the quantized analog of within-cluster cohesion).
    *
    * Scale shape: the k centroids ride the plan as array literals
    * (O(k·dim) driver state, the IVF-centroid bound — broadcast them
    * instead past ~10⁴ centroids); assignment is a map-side fused
    * argmax over codegen'd expressions (`greatest` over (cosq, -cid)
    * structs — no explode, no join, no per-centroid shuffle), then ONE
    * hash aggregate. The full Lloyd loop at scale is this stage
    * iterated (see [[graft.ext.IvfIndex]], whose training does
    * exactly that); this query pins the assignment step's semantics.
    */
  def qKmeansAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 8
    val e = emb(s, dir)
    // bounded collect: k rows of 64 floats — plan-literal centroids
    val ctrs = e.filter($"vec_id" < k)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val scored = ctrs.map { case (cid, vec) =>
      struct(
        graft.functions.QuantizedCosine($"embedding", typedLit(vec)).as("cosq"),
        lit(-cid).as("negid"))
    }
    val best = greatest(scored.toIndexedSeq: _*)
    e.select((-best("negid")).as("cluster"), best("cosq").as("cosq"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n"), sum($"cosq").cast("long").as("sum_cosq"))
      .orderBy($"cluster")
  }

  /** One LLOYD UPDATE step — the training half [[qKmeansAssign]]
    * omits: assign every vector to its best centroid (same plan-
    * literal map-side argmax), then each cluster's new centroid is the
    * per-dimension integer mean of its members' 2²⁰-quantized
    * elements, `sum div n` (Spark `div` and DuckDB `//` both truncate
    * toward zero, so negatives agree). Output is the full k×d new
    * centroid matrix in fixed point.
    *
    * Scale shape: assignment is map-side (no join); posexplode
    * multiplies rows ×d but the (cluster, dim) aggregate partial-
    * aggregates map-side, so the shuffle carries k×d rows per
    * partition — the standard distributed Lloyd layout. Iterating =
    * feeding the output back as the next literal centroids (the IVF
    * trainer does exactly this loop — `IvfIndex.trainCentroids`).
    */
  def qKmeansUpdate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 8
    val e = emb(s, dir)
    val ctrs = e.filter($"vec_id" < k)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val scored = ctrs.map { case (cid, vec) =>
      struct(
        graft.functions.QuantizedCosine($"embedding", typedLit(vec)).as("cosq"),
        lit(-cid).as("negid"))
    }
    val best = greatest(scored.toIndexedSeq: _*)
    e.select((-best("negid")).as("cluster"), $"embedding")
      .select($"cluster", posexplode($"embedding").as(Seq("i0", "el")))
      .groupBy($"cluster", ($"i0" + 1).as("i"))
      .agg(count(lit(1)).as("n"),
        sum(floor($"el".cast("double") * lit(1048576.0)).cast("long")).as("sv"))
      .select($"cluster", $"i".cast("long").as("i"), expr("sv div n").as("c_new"))
      .orderBy($"cluster", $"i")
  }

  /** HARD-NEGATIVE MINING (contrastive-training curation): for each
    * vector, the top-2 most-similar vectors with a DIFFERENT label,
    * candidates blocked by the vector's k-means cluster — the
    * retrieval neighborhood, so a colliding wrong-label vector is
    * exactly the "confusable negative" an embedding trainer wants.
    * The cross-label requirement is what [[qKnnJoin]] (same-label
    * blocks) cannot express.
    *
    * Scale shape: assignment is the [[qKmeansAssign]] map-side fused
    * argmax (plan-literal centroids ≙ the IVF coarse quantizer at
    * 100 TB); the candidate join is cluster-blocked (Σ cell², never
    * all-pairs); the per-anchor top-2 plans as two-phase
    * WindowGroupLimit so only O(k·N) rows cross the exchange.
    */
  def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = 8
    val e = emb(s, dir)
    val ctrs = e.filter($"vec_id" < k)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val scored = ctrs.map { case (cid, vec) =>
      struct(
        graft.functions.QuantizedCosine($"embedding", typedLit(vec)).as("cosq"),
        lit(-cid).as("negid"))
    }
    val best = greatest(scored.toIndexedSeq: _*)
    val assigned = e.select($"vec_id", $"label", $"embedding",
      (-best("negid")).as("cluster"))
    val pairs = assigned.as("a").join(assigned.as("b"),
        $"a.cluster" === $"b.cluster" && $"a.label" =!= $"b.label")
      .select($"a.vec_id".as("vec_id"), $"b.vec_id".as("neg"),
        graft.functions.QuantizedCosine($"a.embedding", $"b.embedding").as("cosq"))
    val w = Window.partitionBy($"vec_id").orderBy($"cosq".desc, $"neg")
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .where($"rk" <= 2)
      .orderBy($"vec_id", $"rk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cosine_topk" -> (qCosineTopK _),
    "q_rag_retrieve" -> (qRagRetrieve _),
    "q_rag_indexed" -> (qRagIndexed _),
    "q_rag_refreshed" -> (qRagRefreshed _),
    "q_embedding_centroid" -> (qEmbeddingCentroid _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_cosine_dups" -> (qCosineDups _),
    "q_knn_join" -> (qKnnJoin _),
    "q_kmeans_assign" -> (qKmeansAssign _),
    "q_kmeans_update" -> (qKmeansUpdate _),
    "q_hard_negatives" -> (qHardNegatives _),
  )

  /** Shared oracle CTEs: per-element floor(x·2²⁰) quantization and
    * exact-int64 squared norms — the SQL mirror of
    * [[graft.functions.QuantizedCosine]]'s recipe. Every SUM is
    * wrapped in CAST(... AS BIGINT): DuckDB promotes integer SUMs to
    * HUGEINT, whose hash representation varies by client version.
    */
  private[ext] val quantCtes: String =
    """qn AS (
      |  SELECT vec_id, i, CAST(floor(CAST(e AS DOUBLE) * 1048576.0) AS BIGINT) AS v
      |  FROM (SELECT vec_id, unnest(embedding) AS e,
      |               generate_subscripts(embedding, 1) AS i
      |        FROM embeddings)),
      |nrm AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS n2 FROM qn GROUP BY vec_id)""".stripMargin

  /** Shared centroid-assignment CTEs (the [[qKmeansAssign]] /
    * [[qKmeansUpdate]] argmax): per-(vector, centroid) integer dot →
    * quantized cosine → rank-1 per vector.
    */
  private val kmeansBestCtes: String =
    """dot AS (
      |  SELECT a.vec_id, b.vec_id AS cid, CAST(SUM(a.v * b.v) AS BIGINT) AS d
      |  FROM qn a JOIN qn b ON a.i = b.i AND b.vec_id < 8
      |  GROUP BY a.vec_id, b.vec_id),
      |scored AS (
      |  SELECT dot.vec_id, dot.cid,
      |    CASE WHEN na.n2 = 0 OR nc.n2 = 0 THEN 0
      |         ELSE CAST(floor(CAST(d AS DOUBLE) /
      |                sqrt(CAST(na.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)) * 10000.0)
      |              AS BIGINT) END AS cosq
      |  FROM dot JOIN nrm na ON dot.vec_id = na.vec_id
      |           JOIN nrm nc ON dot.cid = nc.vec_id),
      |best AS (
      |  SELECT vec_id, cid, cosq,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY cosq DESC, cid) AS rk
      |  FROM scored)""".stripMargin

  /** Label-blocked near-duplicate pair CTEs (pair → integer dot →
    * quantized-cosine CASE → threshold 4000), yielding `dup(vec_a,
    * vec_b, cosq)`. ONE definition shared by the q_cosine_dups and
    * q_semantic_dedup oracles — the Spark side already shares
    * [[qCosineDups]], so the SQL mirror must not be able to drift
    * either. Requires [[quantCtes]] in the same WITH clause.
    */
  private[ext] val dupPairsSql: String =
    """pair AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id),
      |dot AS (
      |  SELECT p.vec_a, p.vec_b, CAST(SUM(x.v * y.v) AS BIGINT) AS d
      |  FROM pair p JOIN qn x ON x.vec_id = p.vec_a
      |              JOIN qn y ON y.vec_id = p.vec_b AND y.i = x.i
      |  GROUP BY p.vec_a, p.vec_b),
      |dup AS (
      |  SELECT * FROM (
      |    SELECT dot.vec_a, dot.vec_b,
      |      CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0
      |           ELSE CAST(floor(CAST(d AS DOUBLE) /
      |                  sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) * 10000.0)
      |                AS BIGINT) END AS cosq
      |    FROM dot JOIN nrm na ON dot.vec_a = na.vec_id
      |             JOIN nrm nb ON dot.vec_b = nb.vec_id)
      |  WHERE cosq >= 4000)""".stripMargin

  /** Exact quantized-cosine top-10 of vec_id 0 — the oracle for every
    * access path that provably returns the exact answer: the
    * brute-force scan (q_cosine_topk), the exhaustive-probe LSH path
    * (q_ann_lsh), and the all-cells IVF path (q_ann_ivf in
    * [[IvfIndex.oracle]]). One definition; three physical plans.
    */
  private[ext] val exactTopKCosineSql: String =
    s"""WITH $quantCtes,
       |dot AS (
       |  SELECT a.vec_id, CAST(SUM(a.v * b.v) AS BIGINT) AS d
       |  FROM qn a JOIN qn b ON a.i = b.i AND b.vec_id = 0
       |  WHERE a.vec_id <> 0 GROUP BY a.vec_id)
       |SELECT dot.vec_id,
       |  CASE WHEN na.n2 = 0 OR nq.n2 = 0 THEN 0
       |       ELSE CAST(floor(CAST(d AS DOUBLE) /
       |              sqrt(CAST(na.n2 AS DOUBLE) * CAST(nq.n2 AS DOUBLE)) * 10000.0)
       |            AS BIGINT) END AS cosq
       |FROM dot JOIN nrm na ON dot.vec_id = na.vec_id
       |         JOIN nrm nq ON nq.vec_id = 0
       |ORDER BY cosq DESC, dot.vec_id LIMIT 10""".stripMargin

  /** Label-blocked kNN ranking CTEs (pair → integer dot → quantized
    * cosine → per-vector rank), yielding `rk(vec_id, nbr, cosq, rk)`.
    * ONE definition shared by the q_knn_join and q_pagerank oracles —
    * the Spark side shares [[knnJoin]], so the SQL mirror must not be
    * able to drift either. Requires [[quantCtes]] in the same WITH.
    */
  private[ext] val knnRankCtes: String =
    """pair AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id <> b.vec_id),
      |dot AS (
      |  SELECT p.vec_id, p.nbr, CAST(SUM(x.v * y.v) AS BIGINT) AS d
      |  FROM pair p JOIN qn x ON x.vec_id = p.vec_id
      |              JOIN qn y ON y.vec_id = p.nbr AND y.i = x.i
      |  GROUP BY p.vec_id, p.nbr),
      |scored AS (
      |  SELECT dot.vec_id, dot.nbr,
      |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0
      |         ELSE CAST(floor(CAST(d AS DOUBLE) /
      |                sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) * 10000.0)
      |              AS BIGINT) END AS cosq
      |  FROM dot JOIN nrm na ON dot.vec_id = na.vec_id
      |           JOIN nrm nb ON dot.nbr = nb.vec_id),
      |rk AS (
      |  SELECT vec_id, nbr, cosq,
      |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosq DESC, nbr) AS BIGINT) AS rk
      |  FROM scored)""".stripMargin

  // the exact top-5 CTEs + rank + corpus join-back (doc_id = vec_id);
  // shared verbatim by the indexed serving path (index ≡ brute force)
  private val ragSql: String =
    s"""WITH $quantCtes,
         |dot AS (
         |  SELECT a.vec_id, CAST(SUM(a.v * b.v) AS BIGINT) AS d
         |  FROM qn a JOIN qn b ON a.i = b.i AND b.vec_id = 0
         |  WHERE a.vec_id <> 0 GROUP BY a.vec_id),
         |sc AS (
         |  SELECT dot.vec_id,
         |    CASE WHEN na.n2 = 0 OR nq.n2 = 0 THEN 0
         |         ELSE CAST(floor(CAST(d AS DOUBLE) /
         |                sqrt(CAST(na.n2 AS DOUBLE) * CAST(nq.n2 AS DOUBLE)) * 10000.0)
         |              AS BIGINT) END AS cosq
         |  FROM dot JOIN nrm na ON dot.vec_id = na.vec_id
         |           JOIN nrm nq ON nq.vec_id = 0),
         |top AS (
         |  SELECT vec_id, cosq,
         |    row_number() OVER (ORDER BY cosq DESC, vec_id) AS rank
         |  FROM sc ORDER BY cosq DESC, vec_id LIMIT 5)
         |SELECT top.rank, top.vec_id, top.cosq, d.lang,
         |  substring(d.text, 1, 40) AS snippet
         |FROM top JOIN documents d ON top.vec_id = d.doc_id
         |ORDER BY top.rank""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_cosine_topk" -> exactTopKCosineSql,
    "q_rag_retrieve" -> ragSql,
    "q_rag_indexed" -> ragSql,
    // brute-force top-5 over EXACTLY old ∪ admitted (the refresh's
    // dispo CTE chain rebuilds the admitted set independently) — what
    // serving from the grown index must equal
    "q_rag_refreshed" ->
      s"""WITH ${CrawlRefresh.refreshCtes},
         |rids AS (
         |  SELECT doc_id FROM documents WHERE CAST(substring(source, 4) AS INT) < 10
         |  UNION ALL
         |  SELECT doc_id FROM dispo WHERE bucket = '_admitted'),
         |$quantCtes,
         |dot AS (
         |  SELECT a.vec_id, CAST(SUM(a.v * b.v) AS BIGINT) AS d
         |  FROM qn a JOIN qn b ON a.i = b.i AND b.vec_id = 0
         |  WHERE a.vec_id <> 0 AND a.vec_id IN (SELECT doc_id FROM rids)
         |  GROUP BY a.vec_id),
         |sc AS (
         |  SELECT dot.vec_id,
         |    CASE WHEN na.n2 = 0 OR nq.n2 = 0 THEN 0
         |         ELSE CAST(floor(CAST(d AS DOUBLE) /
         |                sqrt(CAST(na.n2 AS DOUBLE) * CAST(nq.n2 AS DOUBLE)) * 10000.0)
         |              AS BIGINT) END AS cosq
         |  FROM dot JOIN nrm na ON dot.vec_id = na.vec_id
         |           JOIN nrm nq ON nq.vec_id = 0),
         |top AS (
         |  SELECT vec_id, cosq,
         |    row_number() OVER (ORDER BY cosq DESC, vec_id) AS rank
         |  FROM sc ORDER BY cosq DESC, vec_id LIMIT 5)
         |SELECT top.rank, top.vec_id, top.cosq, d.lang,
         |  substring(d.text, 1, 40) AS snippet
         |FROM top JOIN documents d ON top.vec_id = d.doc_id
         |ORDER BY top.rank""".stripMargin,
    "q_ann_lsh" -> exactTopKCosineSql,
    // nearest-of-8-seeds reconstruction: all (vector, seed) quantized
    // dots → cosq → argmax per vector with ties to the lower seed id,
    // then the per-cluster rollup — matches only if Spark's fused
    // argmax picks the identical centroid for every vector
    "q_kmeans_assign" ->
      s"""WITH $quantCtes,
         |$kmeansBestCtes
         |SELECT cid AS cluster, COUNT(*) AS n, CAST(SUM(cosq) AS BIGINT) AS sum_cosq
         |FROM best WHERE rk = 1
         |GROUP BY cid ORDER BY cid""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH $quantCtes,
         |$kmeansBestCtes,
         |cl AS (SELECT vec_id, cid AS cluster FROM best WHERE rk = 1),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cand AS (
         |  SELECT a.vec_id, b.vec_id AS neg
         |  FROM cl a JOIN cl b ON a.cluster = b.cluster
         |  JOIN lab la ON la.vec_id = a.vec_id
         |  JOIN lab lb ON lb.vec_id = b.vec_id
         |  WHERE la.label <> lb.label),
         |hd AS (
         |  SELECT c.vec_id, c.neg, CAST(SUM(x.v * y.v) AS BIGINT) AS d
         |  FROM cand c JOIN qn x ON x.vec_id = c.vec_id
         |              JOIN qn y ON y.vec_id = c.neg AND y.i = x.i
         |  GROUP BY c.vec_id, c.neg),
         |hc AS (
         |  SELECT hd.vec_id, hd.neg,
         |    CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0
         |         ELSE CAST(floor(CAST(d AS DOUBLE) /
         |                sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) * 10000.0)
         |              AS BIGINT) END AS cosq
         |  FROM hd JOIN nrm na ON hd.vec_id = na.vec_id
         |          JOIN nrm nb ON hd.neg = nb.vec_id),
         |rk2 AS (
         |  SELECT vec_id, neg, cosq,
         |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosq DESC, neg)
         |      AS BIGINT) AS rk
         |  FROM hc)
         |SELECT vec_id, neg, cosq, rk FROM rk2 WHERE rk <= 2
         |ORDER BY vec_id, rk""".stripMargin,
    "q_kmeans_update" ->
      s"""WITH $quantCtes,
         |$kmeansBestCtes
         |SELECT b.cid AS cluster, qn.i,
         |  CAST(CAST(SUM(qn.v) AS BIGINT) // COUNT(*) AS BIGINT) AS c_new
         |FROM best b JOIN qn ON b.vec_id = qn.vec_id
         |WHERE b.rk = 1
         |GROUP BY b.cid, qn.i
         |ORDER BY cluster, i""".stripMargin,
    "q_cosine_dups" ->
      s"""WITH $quantCtes,
         |$dupPairsSql
         |SELECT vec_a, vec_b, cosq FROM dup
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q_knn_join" ->
      s"""WITH $quantCtes,
         |$knnRankCtes
         |SELECT vec_id, nbr, cosq, rk FROM rk WHERE rk <= 3
         |ORDER BY vec_id, rk""".stripMargin,
    "q_embedding_centroid" ->
      """SELECT label, CAST(i AS BIGINT) AS dim,
        |  CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT) AS sum_scaled,
        |  COUNT(*) AS n
        |FROM (SELECT label, unnest(embedding) AS e, generate_subscripts(embedding, 1) AS i
        |      FROM embeddings)
        |GROUP BY label, i ORDER BY label, dim""".stripMargin,
  )
}
