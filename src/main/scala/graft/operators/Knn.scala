package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and an LSH
  * (random-hyperplane) bucketed variant as the scale path.
  *
  * Scale design: the query set is small and broadcast; the corpus streams
  * through scoring map-side (no shuffle of vectors), and only (query_id,
  * corpus_id, sim) tuples — 24 bytes — reach the top-k shuffle. The LSH
  * variant prunes scoring to same-bucket rows so corpus scans drop from
  * O(Q×N) to O(Q×N/2^bits) expected. Hyperplanes are pseudo-random but
  * deterministic (hash-derived), so results are reproducible with no RNG
  * state shipped to executors.
  */
object Knn {

  /** Dot product of two equal-length float-array columns, in double.
    * Native codegen'd kernel ([[graft.expr.VectorDot]]): one static call
    * per row, bit-identical to the HOF fold it replaced (left-to-right
    * double accumulation — [[dotComposed]] stays as the executable spec,
    * pinned by VectorOpsParitySpec). Division of labor in this module:
    * kernel dot for per-PAIR scoring (candidate pairs are bucket/probe-
    * pruned, norms hoisted to per-row columns first), unrolled [[normN]]
    * for static-dim per-ROW norms, and one posexplode+agg for anything
    * evaluated against many vectors at once ([[withSrpBucket]],
    * assignToCentroids). Unrolling the pair dot into an expression TREE
    * instead bloats whole-stage codegen into multi-second janino
    * compiles — measured slower end-to-end; the kernel keeps codegen one
    * call wide. */
  def dot(a: Column, b: Column): Column =
    graft.expr.GraftFunctions.vectorDot(a, b)

  /** The pure-Column composition of [[dot]] (the spec form — interpreted
    * HOF, value-identical; also the form that returns null on unequal
    * lengths via zip_with padding, where the kernel raises). */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm (native kernel — see [[dot]] note). */
  def norm(a: Column): Column =
    graft.expr.GraftFunctions.vectorNorm(a)

  /** The pure-Column composition of [[norm]] (the spec form). */
  def normComposed(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity (0 when either norm is 0). HOF form. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0, 0.0).otherwise(d / n)
  }

  // ---- static-dim forms: the vector dim is known at plan time, so the
  // fold unrolls into plain codegen'd arithmetic (no interpreted HOF in the
  // hot pair-scoring loops). Left-to-right add order matches the HOF fold
  // exactly (0.0 + x == x in IEEE754), so values are bit-identical.

  private def el(v: Column, i: Int): Column = element_at(v, i + 1).cast("double")

  /** Unrolled L2 norm for vectors of statically-known length. */
  def normN(a: Column, dim: Int): Column =
    sqrt((0 until dim).map(i => el(a, i) * el(a, i)).reduce(_ + _))

  /** Probe the vector dim from the first row (one tiny job at plan time;
    * all vectors in a column are required to share one dim). Empty input
    * or a null first vector yields 1 — the plans below then simply flow
    * zero (or null-scored) rows instead of crashing at plan time. */
  private def staticDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol)).as("__d")).head(1).headOption
      .collect { case r if !r.isNullAt(0) && r.getInt(0) > 0 => r.getInt(0) }
      .getOrElse(1)

  /** Cosine from precomputed norms: when(n===0, 0).otherwise(dot / n). */
  private def cosineFrom(dot: Column, normProduct: Column): Column =
    when(normProduct === 0, 0.0).otherwise(dot / normProduct)

  /** Exact brute-force top-k: for each row of `queries`, the k nearest
    * corpus rows by cosine. Queries are broadcast (small side); ties break
    * on corpus id for determinism.
    * Output: query_id, neighbor_id, rank, cosine_sim. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = staticDim(corpus, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", normN(col("__qv"), dim))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", normN(col("__cv"), dim))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim",
        cosineFrom(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    topK(scored, k)
  }

  /** Contrastive negative sampling: for each anchor vector, `k`
    * deterministic negatives drawn from the corpus OUTSIDE the anchor's
    * near-neighborhood (cosine < maxSim — self and near-duplicates are
    * hard-excluded so a contrastive loss never trains against a false
    * negative). Selection ranks candidates by the portable hash of
    * "anchor:candidate" — uniform like rand() but reproducible across
    * runs, retries and engines (no RNG state ships to executors), so the
    * training set is a pure function of the corpus version.
    *
    * Scale shape: anchors broadcast, corpus streams through scoring
    * map-side (the [[bruteForceTopK]] shape); the per-anchor rank window
    * holds one anchor's candidates — parallel across anchors, which are
    * bounded (a training batch), never corpus x corpus. For corpus-sized
    * anchor sets, pre-prune candidates per anchor with the SRP/IVF
    * bucketing first.
    * Output: (query_id, rank, neighbor_id, cosine_sim). */
  def negativeSamples(corpus: DataFrame, queries: DataFrame, k: Int,
                      maxSim: Double, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val dim = staticDim(corpus, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", normN(col("__qv"), dim))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", normN(col("__cv"), dim))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__h").asc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim",
        cosineFrom(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
      .filter(col("cosine_sim") < maxSim)
      .withColumn("__h", Dedup.portableHash64(
        concat(col("query_id").cast("string"), lit(":"),
          col("neighbor_id").cast("string")), 4242))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine_sim"), 6).as("cosine_sim"))
  }

  /** Per-query top-k over a scored (query_id, neighbor_id, cosine_sim)
    * frame. The window partitions on query_id — fine at any corpus scale
    * because each partition holds one query's candidates, not the corpus. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine_sim"), 6).as("cosine_sim"))
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1] for
    * (plane p, dimension d): derived from xxhash64 — no RNG object. */
  private def planeComponent(p: Int, d: Column): Column =
    (pmod(xxhash64(lit(p), d), lit(2000001L)) - 1000000L).cast("double") / 1000000.0

  /** Shared fold-form SRP bucket body: sign bits of the per-plane
    * projections, with the hyperplane component function pluggable
    * (xxhash64-derived for the hot path, portable md5-derived for the
    * oracle-replayable path) — one copy of the proj > 0 convention and
    * fold order that the DuckDB oracle replays step for step. */
  private def srpBits(vec: Column, numPlanes: Int,
                      component: (Int, Column) => Column): Column =
    (0 until numPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x.cast("double") * component(p, d)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Bulk SRP bucketing: posexplode the vectors once and compute every
    * plane projection in ONE codegen'd hash aggregation (map-side partial
    * agg, so the shuffle carries one row per vector per partition), then
    * join the bucket back by id. ~10x the per-row fold form ([[srpBits]])
    * on bulk data. */
  def withSrpBucket(df: DataFrame, idCol: String, vecCol: String,
                    numPlanes: Int, out: String = "__bucket"): DataFrame = {
    val exploded = df.select(col(idCol).as("__bid"), posexplode(col(vecCol)))
      .toDF("__bid", "__d", "__x")
    val projs = exploded.groupBy(col("__bid"))
      .agg(sum(col("__x").cast("double") * planeComponent(0, col("__d"))).as("__p0"),
        (1 until numPlanes).map(p =>
          sum(col("__x").cast("double") * planeComponent(p, col("__d"))).as(s"__p$p")): _*)
    val bucket = (0 until numPlanes)
      .map(p => when(col(s"__p$p") > 0, shiftleft(lit(1L), p)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    df.join(projs.select(col("__bid"), bucket.as(out)),
      col(idCol) === col("__bid")).drop("__bid")
  }

  /** Hyperplane component via the portable hash family
    * ([[Dedup.portableHash64]]) — replayable in DuckDB SQL. */
  private def planeComponentPortable(p: Int, d: Column): Column =
    (pmod(Dedup.portableHash64(d.cast("string"), p), lit(2000001L)) - 1000000L)
      .cast("double") / 1000000.0

  /** SRP bucket via the portable hash family with deterministic left-fold
    * projections (a hash-agg sum's addition order is partition-dependent,
    * so only the fold form can be value-compared cross-engine). Column
    * form — interpreted; use on bounded subsets where verifiability
    * matters more than bulk speed ([[withSrpBucket]] remains the hot
    * path). */
  def srpBucketPortable(vec: Column, numPlanes: Int): Column =
    srpBits(vec, numPlanes, planeComponentPortable)

  /** SRP-bucketed cosine near-dup pairs with the portable bucket and
    * deterministic HOF folds end to end — a DuckDB oracle can replay it
    * value-identically ([[cosineNearDups]] stays the bulk form). */
  def cosineNearDupsPortable(df: DataFrame, threshold: Double,
                             numPlanes: Int = 8, idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    val v = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__b", srpBucketPortable(col("__v"), numPlanes))
      .withColumn("__n", norm(col("__v")))
    v.as("l").join(v.as("r"),
        col("l.__b") === col("r.__b") && col("l.__id") < col("r.__id"))
      .withColumn("cosine_sim",
        cosineFrom(dot(col("l.__v"), col("r.__v")), col("l.__n") * col("r.__n")))
      .filter(col("cosine_sim") >= threshold)
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        round(col("cosine_sim"), 6).as("cosine_sim"))
  }

  /** Approximate top-k: score only corpus rows whose SRP bucket matches the
    * query's (single-probe). Recall < 1.0 by construction; raise
    * `numPlanes` for smaller buckets or lower it for higher recall.
    * Same output shape as [[bruteForceTopK]]. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, numPlanes: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = staticDim(corpus, vecCol)
    val q = withSrpBucket(queries, idCol, vecCol, numPlanes, "__qb")
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("__qb"))
      .withColumn("__qn", normN(col("__qv"), dim))
    val c = withSrpBucket(corpus, idCol, vecCol, numPlanes, "__cb")
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"), col("__cb"))
      .withColumn("__cn", normN(col("__cv"), dim))
    val scored = c.join(broadcast(q), col("__qb") === col("__cb") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim",
        cosineFrom(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    topK(scored, k)
  }

  /** [[lshTopK]]'s oracle-replayable twin: the same single-probe
    * same-bucket candidate bound with the PORTABLE SRP bucket
    * ([[srpBucketPortable]]) and a plain bucket-keyed equi-join —
    * neither side broadcast, the 100 TB shape: both sides shuffle on
    * the bucket key and only same-bucket candidates are ever scored,
    * so per-probe work is the bucket size ≈ n / 2^numPlanes and
    * `numPlanes` is the cost lever (pick ~log2(n / targetBucketSize)).
    * Approximate by construction (single-probe recall < 1 — the
    * documented LSH tradeoff); every arithmetic step (fold-form
    * projections, unrolled norms, one division) replays in DuckDB SQL.
    * Same output shape as [[bruteForceTopK]]. */
  def lshTopKPortable(corpus: DataFrame, queries: DataFrame, k: Int,
                      numPlanes: Int = 8, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val dim = staticDim(corpus, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qb", srpBucketPortable(col("__qv"), numPlanes))
      .withColumn("__qn", normN(col("__qv"), dim))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cb", srpBucketPortable(col("__cv"), numPlanes))
      .withColumn("__cn", normN(col("__cv"), dim))
    val scored = c.join(q, col("__qb") === col("__cb") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim",
        cosineFrom(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    topK(scored, k)
  }

  /** A built IVF index. `centroids` is driver-side metadata — (id, vector,
    * norm), bounded by nlist (dozens to thousands), NOT data — so search
    * never re-derives it from a DataFrame lineage; `lists` is the persisted
    * AND materialized inverted-list frame (neighbor_id, __cv, __cent_id).
    *
    * Materializing at build time is deliberate: a lazily-persisted lists
    * frame consumed by several search stages makes each of them race to
    * populate the cache, recomputing the whole assignment lineage with
    * timing-dependent cost. Build once, pay once, every search reads the
    * cached blocks (storage-evictable — LRU under memory pressure). */
  final case class IvfIndex(centroids: Array[(Long, Array[Double], Double)],
                            lists: DataFrame) {
    def dim: Int = centroids.head._2.length
    /** Release the cached lists blocks when the index is done with. */
    def unpersist(): Unit = { lists.unpersist(); () }
  }

  /** Collect a bounded centroid frame (__cent_id, __cent) into the
    * driver-side (id, vector, norm) form — index METADATA, not data. */
  private def collectCentroids(centroids: DataFrame): Array[(Long, Array[Double], Double)] =
    centroids.collect().map { r =>
      val cid = r.getAs[Number]("__cent_id").longValue()
      val cv = r.getSeq[Number](r.fieldIndex("__cent")).map(_.doubleValue()).toArray
      // left-to-right sum matches the Column-form fold exactly
      (cid, cv, math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + x * x)))
    }

  /** IVF index: centroid metadata + persisted inverted lists. Centroids =
    * the first `nlist` corpus vectors by id (deterministic seeding; see
    * [[ivfIndexKMeans]] for Lloyd refinement — the assignment/probe
    * machinery is identical either way). Each corpus vector lands in its
    * nearest centroid's list.
    *
    * IVF economics, measured at 20k vectors / 64 lists: building the index
    * costs corpus x nlist similarity evaluations — MORE than brute-forcing
    * a handful of queries (10 queries = corpus x 10). The index pays off
    * because it is built ONCE (the returned lists are persisted and
    * materialized here) and queried many times. */
  /** Centroid seed frame: first `nlist` rows by id with a usable (non-null,
    * non-empty) vector — a corpus with nullable embeddings must not NPE the
    * driver-side collect; such rows are likewise excluded from the lists by
    * [[assignToCentroids]] (see its scaladoc). */
  private def seedFrame(corpus: DataFrame, nlist: Int, idCol: String,
                        vecCol: String): DataFrame =
    corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).as("__cent_id"), col(vecCol).as("__cent"))

  def ivfIndex(corpus: DataFrame, nlist: Int, idCol: String = "vec_id",
               vecCol: String = "embedding"): IvfIndex = {
    val cents = collectCentroids(seedFrame(corpus, nlist, idCol, vecCol))
    require(cents.nonEmpty, "ivfIndex: no corpus rows with a non-empty vector")
    buildLists(corpus, cents, idCol, vecCol)
  }

  private def buildLists(corpus: DataFrame, cents: Array[(Long, Array[Double], Double)],
                         idCol: String, vecCol: String): IvfIndex = {
    val lists = assignToCentroids(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
      cents, "neighbor_id", "__cv", keep = 1).persist()
    lists.count() // materialize — see [[IvfIndex]] scaladoc
    IvfIndex(cents, lists)
  }

  /** IVF index with Lloyd-refined centroids: deterministic seeding (first
    * `nlist` vectors by id) then `iters` rounds of assign -> mean-per-list.
    * Balanced lists cut the probe-side scan variance vs raw seeding.
    *
    * Physical shape per round: one assign pass (the codegen'd agg of
    * [[assignToCentroids]]) + one (list, dim)-keyed average — both shuffle
    * ids and dims only, never pairwise. The per-round means are collected
    * driver-side (bounded nlist x dim rows — index metadata) and folded
    * into the centroid array there, so a round is exactly one Spark job
    * with no join/checkpoint lineage growth. Empty lists keep their
    * previous centroid. */
  def ivfIndexKMeans(corpus: DataFrame, nlist: Int, iters: Int = 3,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): IvfIndex = {
    val vecs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    var cents = collectCentroids(seedFrame(corpus, nlist, idCol, vecCol))
    require(cents.nonEmpty, "ivfIndexKMeans: no corpus rows with a non-empty vector")
    for (_ <- 1 to iters) {
      val meanRows = assignToCentroids(vecs, cents, "neighbor_id", "__cv", keep = 1)
        .select(col("__cent_id"), posexplode(col("__cv")))
        .toDF("__cent_id", "__d", "__x")
        .groupBy(col("__cent_id"), col("__d"))
        .agg(avg(col("__x").cast("double")).as("__m"))
        .collect() // bounded: nlist x dim rows of index metadata
      val byId = meanRows.groupBy(_.getAs[Number]("__cent_id").longValue())
      cents = cents.map { case (cid, prev, prevNorm) =>
        byId.get(cid) match {
          case Some(rows) =>
            val v = prev.clone()
            rows.foreach(r => v(r.getAs[Number]("__d").intValue()) =
              r.getAs[Number]("__m").doubleValue())
            (cid, v, math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x)))
          case None => (cid, prev, prevNorm) // empty list: keep the centroid
        }
      }
    }
    buildLists(corpus, cents, idCol, vecCol)
  }

  /** Nearest-`keep` centroids per row, as added `__cent_id` rows.
    *
    * The centroid set arrives as the bounded driver-side array (index
    * metadata, collected ONCE at build — never re-derived here) and its
    * vectors become small array literals. The dot products against ALL
    * centroids then compute in ONE codegen'd hash aggregation over the
    * posexploded vectors — the [[withSrpBucket]] pattern: nlist+1 small
    * `sum` aggregates, map-side partial agg, one shuffle keyed on the row
    * id. The nearest centroid is a pure argmax via array_max over
    * (sim, -id) structs (keep=1, the corpus-side 100 TB input — no per-row
    * sort-shuffle window); keep>1 (the query side) sorts the nlist-length
    * array per row.
    *
    * Rows whose vector is null or empty posexplode to nothing and are
    * EXCLUDED from the assignment (they have no meaningful centroid) —
    * callers indexing a corpus with nullable embeddings should filter or
    * impute first.
    *
    * (Unrolling dim x nlist literal products into one projection instead
    * compiles to megabytes of Java — measured 60x slower than this at
    * dim=64, nlist=16. Keep per-expression trees small and let the agg do
    * the fan-out.)
    */
  /** @param rankCol when non-empty, also emit the 1-based probe rank of
    *        each kept centroid (1 = nearest) under that name — the prefix
    *        property ([[ivfSearchBudgets]]) rides on this ordering. Empty
    *        (the default) keeps the original schema, which [[buildLists]]
    *        PERSISTS and [[ivfSave]] writes to parquet — so the rank stays
    *        out of the index layout. */
  private def assignToCentroids(df: DataFrame,
                                cents: Array[(Long, Array[Double], Double)],
                                id: String, vec: String, keep: Int,
                                rankCol: String = ""): DataFrame = {
    require(cents.nonEmpty, "assignToCentroids: empty centroid set")
    val exploded = df.select(col(id).as("__aid"), posexplode(col(vec)))
      .toDF("__aid", "__d", "__x")
    val xd = col("__x").cast("double")
    // rows of one vector stay contiguous in dim order through the partial
    // agg, so each sum folds left-to-right like the HOF form
    val dotAggs = cents.zipWithIndex.map { case ((_, cv, _), p) =>
      sum(xd * element_at(lit(cv), col("__d") + 1)).as(s"__dot$p")
    }
    val dots = exploded.groupBy(col("__aid"))
      .agg(sum(xd * xd).as("__sq"), dotAggs.toIndexedSeq: _*)
    val vNorm = sqrt(col("__sq"))
    val entries = cents.zipWithIndex.map { case ((cid, _, cn), p) =>
      struct(cosineFrom(col(s"__dot$p"), vNorm * lit(cn)).as("__csim"),
        lit(-cid).as("__negid"))
    }
    val arr = array(entries.toIndexedSeq: _*)
    // max/sort on (sim, -id) structs == orderBy(sim desc, id asc)
    val picked =
      if (keep == 1) array(array_max(arr))
      else slice(sort_array(arr, asc = false), 1, keep)
    val assigned = dots
      .select(col("__aid"), posexplode(picked).as(Seq("__p", "__pick")))
      .select(col("__aid") +: (col("__p") + 1).as("__rank") +:
        (-col("__pick.__negid")).as("__cent_id") +: Nil: _*)
    val shaped =
      if (rankCol.isEmpty) assigned.drop("__rank")
      else assigned.withColumnRenamed("__rank", rankCol)
    df.join(shaped, col(id) === col("__aid")).drop("__aid")
  }

  /** Incremental IVF ingestion: assign a new vector batch to the EXISTING
    * centroids and append to the inverted lists — the batch-over-batch ANN
    * shape (the index grows without a rebuild, completing the incremental
    * family next to [[Dedup.dropAgainstExisting]] /
    * [[Dedup.minhashNearDupsAgainst]]). Cost is one assignment pass over
    * the BATCH (batch x nlist dot products), never the indexed corpus.
    *
    * The merged lists are persisted and materialized before the old cache
    * is released, so searches never recompute the old assignment lineage;
    * after many increments the merged lineage is a deep union — production
    * pipelines should periodically rewrite the lists to a table (and
    * refresh centroids via [[ivfIndexKMeans]] as the distribution drifts —
    * appended vectors do not move centroids here). */
  /** @param dedupIds drop duplicate `neighbor_id`s after the union
    *        (keep-any — assignments are deterministic, so duplicates are
    *        byte-identical rows). Enables at-least-once callers
    *        (streaming replay re-adds a batch; [[graft.streaming.Stream]]'s
    *        IVF ingest) to stay exactly-once without tracking state. */
  def ivfAdd(index: IvfIndex, batch: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding",
             dedupIds: Boolean = false): IvfIndex = {
    val newRows = assignToCentroids(
      batch.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
      index.centroids, "neighbor_id", "__cv", keep = 1)
    val unioned = index.lists.unionByName(newRows)
    val merged = (if (dedupIds) unioned.dropDuplicates("neighbor_id")
                  else unioned).persist()
    merged.count() // materialize before releasing the old blocks
    index.unpersist()
    IvfIndex(index.centroids, merged)
  }

  /** Persist an IVF index as parquet under `path`: `lists/` is the
    * inverted-list frame as-is (neighbor_id, __cv, __cent_id — the
    * corpus-sized side), `centroids/` the bounded nlist-row centroid
    * metadata. The production analogue of the in-session index cache:
    * build (or [[ivfAdd]]-grow) once, save, and every later job/session
    * [[ivfLoad]]s instead of re-assigning the corpus — this is also the
    * "periodically rewrite the lists to a table" maintenance step the
    * incremental path calls for (a saved index has a flat one-scan
    * lineage, however many increments produced it). */
  def ivfSave(index: IvfIndex, path: String): Unit = {
    val spark = index.lists.sparkSession
    index.lists.write.mode("overwrite").parquet(s"$path/lists")
    val rows = index.centroids.toIndexedSeq.map { case (cid, cv, _) =>
      org.apache.spark.sql.Row(cid, cv.toSeq) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__cent_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__cent",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load a saved IVF index: centroid metadata is collected driver-side
    * (bounded — nlist rows; norms re-derived by the same left-to-right
    * fold as at build), lists are persisted + materialized exactly like a
    * fresh build, so search over a loaded index is the same pure plan
    * construction. */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val cents = collectCentroids(spark.read.parquet(s"$path/centroids"))
    require(cents.nonEmpty, s"ivfLoad: no centroids at $path")
    val lists = spark.read.parquet(s"$path/lists").persist()
    lists.count() // materialize — see [[IvfIndex]] scaladoc
    IvfIndex(cents, lists)
  }

  /** Search a pre-built IVF index: each query probes its `nprobe` nearest
    * lists, scanning ~nprobe/nlist of the corpus. Pure plan construction —
    * the centroid metadata is already driver-side and the lists are already
    * cached, so search launches no extra jobs of its own. `nprobe = nlist`
    * probes every list and reproduces brute force exactly. */
  def ivfSearch(index: IvfIndex, queries: DataFrame, k: Int,
                nprobe: Int, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val dim = index.dim
    val probes = assignToCentroids(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
      index.centroids, "query_id", "__qv", keep = nprobe)
      .withColumn("__qn", normN(col("__qv"), dim))
    val scored = index.lists
      .withColumn("__cn", normN(col("__cv"), dim))
      .join(broadcast(probes), Seq("__cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim",
        cosineFrom(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    topK(scored, k)
  }

  /** Multi-budget IVF search: one centroid assignment at the LARGEST
    * probe budget, one scored pass over the probed lists, and every
    * requested budget derived by `probe_rank <= p` — because the probes
    * at budget p are exactly the rank-prefix of budget max(budgets)'s
    * picks (assignment orders centroids by (sim desc, id asc)), this
    * equals running [[ivfSearch]] once per budget, row for row
    * (IvfBudgetsSpec pins the equivalence). Output adds `nprobe` in
    * front of ivfSearch's columns, one block per budget.
    *
    * This is the probe-sweep shape (recall/MAP-vs-nprobe curves —
    * q186/q201): the naive per-budget loop rescans the lists and redoes
    * the assignment |budgets| times and unions four window plans; here
    * the lists are scanned once and the explode multiplies only the
    * scored rows a budget actually keeps (sum of prefix sizes, <=
    * |budgets| x the largest single search — and exactly what the
    * per-budget windows had to shuffle anyway). */
  def ivfSearchBudgets(index: IvfIndex, queries: DataFrame, k: Int,
                       budgets: Seq[Int], idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ >= 1),
      "ivfSearchBudgets: budgets must be >= 1")
    val dim = index.dim
    val probes = assignToCentroids(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")),
      index.centroids, "query_id", "__qv", keep = budgets.max,
      rankCol = "__probe_rank")
      .withColumn("__qn", normN(col("__qv"), dim))
    val budgetArr = array(budgets.distinct.sorted.map(lit(_)): _*)
    val scored = index.lists
      .withColumn("__cn", normN(col("__cv"), dim))
      .join(broadcast(probes), Seq("__cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine_sim",
        cosineFrom(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
      .withColumn("nprobe",
        explode(filter(budgetArr, b => b >= col("__probe_rank"))))
    val w = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("cosine_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine_sim"), 6).as("cosine_sim"))
  }

  /** Convenience: build + search in one call (index amortization lost —
    * see [[ivfIndex]] for when that matters). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int = 16,
              nprobe: Int = 4, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    ivfSearch(ivfIndex(corpus, nlist, idCol, vecCol), queries, k, nprobe,
      idCol, vecCol)

  /** Embedding-cosine near-duplicate pairs: all (a,b) pairs with cosine >=
    * threshold, bucket-pruned by SRP-LSH (pairs must share a bucket). */
  def cosineNearDups(df: DataFrame, threshold: Double = 0.95, numPlanes: Int = 8,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = staticDim(df, vecCol)
    val v = withSrpBucket(df, idCol, vecCol, numPlanes, "__b")
      .select(col(idCol).as("__id"), col(vecCol).as("__v"), col("__b"))
      .withColumn("__n", normN(col("__v"), dim))
    v.as("l").join(v.as("r"),
        col("l.__b") === col("r.__b") && col("l.__id") < col("r.__id"))
      .withColumn("cosine_sim",
        cosineFrom(dot(col("l.__v"), col("r.__v")), col("l.__n") * col("r.__n")))
      .filter(col("cosine_sim") >= threshold)
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        round(col("cosine_sim"), 6).as("cosine_sim"))
  }
}
