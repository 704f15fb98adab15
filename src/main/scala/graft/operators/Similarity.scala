package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.VecFns
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * `bruteTopK` is the exact baseline: a broadcast nested-loop of a
  * SMALL query set against the full corpus — correct at any corpus
  * size as long as the query batch stays broadcastable. `lshTopK`
  * is the scale path: candidates meet through an equi-join on a
  * random-hyperplane signature, so all-pairs work never happens.
  */
object Similarity {

  /** Product-quantization ANN (IVF-PQ's compression half) — the
    * memory-bound piece of a 100 TB vector index: each 64-dim vector
    * compresses to M=4 sub-space codes (one byte each against a
    * 16-entry codebook), and query scoring runs against CODES through
    * a per-query lookup table instead of raw vectors — the corpus
    * the search touches shrinks ~64×, which is what makes a billion-
    * vector index fit a cluster's memory at all.
    *
    * Codebooks are deterministic corpus-seed subsets standing in for
    * offline k-means (the [[ivfTopK]] convention). The plan shape is
    * the part the engine must get right: codebooks BROADCAST to a
    * single encoding pass (min-struct argmin per sub-space — ties
    * break to the smaller centroid deterministically); the per-query
    * distance LUT (nQueries × M × K floats) broadcasts to the code
    * table; the approximate distance is a fixed-order sum of M
    * element_at lookups, so results are bit-reproducible across
    * engines (no shuffled-order double addition anywhere).
    */
  def pqTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      m: Int = 4, subDim: Int = 16, nCentroids: Int = 16): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.DoubleType
    def sub(c: Column, mi: Int): Column = slice(c, mi * subDim + 1, subDim)
    // fold-exact squared L2 over one sub-space; elements cast to
    // double BEFORE subtraction (float arithmetic differs). Native
    // single-pass expression (codegen'd; HOF folds are
    // CodegenFallback) — parity with the composed form is spec-held
    def sqDist(a: Column, b: Column): Column =
      graft.plans.VecExprs.sqDistFFCol(a, b)
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val cents = emb.filter($"vec_id" < nCentroids)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    // encode: one broadcast pass; argmin per sub-space via min(struct)
    val codes = emb.crossJoin(broadcast(cents))
      .select($"vec_id" +: (0 until m).map(mi =>
        struct(sqDist(sub($"embedding", mi), sub($"cvec", mi)).as("d"),
          $"cid".as("c")).as(s"s$mi")): _*)
      .groupBy($"vec_id")
      .agg(min(col("s0")).getField("c").as("c0"),
        (1 until m).map(mi => min(col(s"s$mi")).getField("c").as(s"c$mi")): _*)
    // per-query LUT: distance of each query sub-vector to each
    // centroid, packed into cid-ordered arrays (element_at by cid+1)
    val lut = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .crossJoin(broadcast(cents))
      .select($"query_id" +: $"cid" +: (0 until m).map(mi =>
        sqDist(sub($"qv", mi), sub($"cvec", mi)).as(s"q$mi")): _*)
      .groupBy($"query_id")
      .agg(transform(sort_array(collect_list(struct($"cid", col("q0")))), _.getField("q0")).as("a0"),
        (1 until m).map(mi =>
          transform(sort_array(collect_list(struct($"cid", col(s"q$mi")))), _.getField(s"q$mi"))
            .as(s"a$mi")): _*)
    // ADC scoring: fixed-order sum of M lookups; LUT broadcasts
    val dist = (0 until m).map(mi =>
      element_at(col(s"a$mi"), (col(s"c$mi") + 1).cast("int"))).reduceLeft(_ + _)
    val w = Window.partitionBy($"query_id").orderBy($"approx_dist".asc, $"neighbor_id".asc)
    codes.crossJoin(broadcast(lut))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"), dist.as("approx_dist"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter($"rnk" <= k)
  }

  /** IVF-PQ — the two scale levers composed, the way a production
    * billion-vector index actually runs: IVF picks WHICH fraction of
    * the corpus a query touches (nProbe/nCentroids of the inverted
    * lists), PQ decides HOW CHEAPLY each touched vector is scored
    * (M code lookups in a broadcast per-query LUT instead of a
    * 64-dim distance). Codes are computed ON the inverted list
    * (list_id, vec_id, c0..cM) — at scale codes are STORED with the
    * list, so the search-time plan never touches raw corpus vectors:
    * the broadcast (probes ⋈ LUTs) relation equi-joins the code table
    * on list_id, and the code table itself never shuffles. ADC sums
    * are fixed-order (bit-reproducible); coarse assignment and ties
    * follow [[ivfTopK]]/[[pqTopK]] exactly. */
  def ivfpqTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 4, subDim: Int = 16): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Column
    def sub(c: Column, mi: Int): Column = slice(c, mi * subDim + 1, subDim)
    def sqDist(a: Column, b: Column): Column = graft.plans.VecExprs.sqDistFFCol(a, b)
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" < nCentroids)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"), $"nrm".as("cnrm"))
    val scored = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"cid",
        (VecFns.dot($"embedding", $"cvec") / ($"nrm" * $"cnrm")).as("ccos"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid".asc)
    val assign = scored.withColumn("rn", row_number().over(wAssign)).filter($"rn" === 1)
      .select($"cid".as("list_id"), $"vec_id", $"embedding")
    val codes = assign.crossJoin(broadcast(cents))
      .select($"list_id" +: $"vec_id" +: (0 until m).map(mi =>
        struct(sqDist(sub($"embedding", mi), sub($"cvec", mi)).as("d"),
          $"cid".as("c")).as(s"s$mi")): _*)
      .groupBy($"list_id", $"vec_id")
      .agg(min(col("s0")).getField("c").as("c0"),
        (1 until m).map(mi => min(col(s"s$mi")).getField("c").as(s"c$mi")): _*)
    val probes = scored.filter($"vec_id" < nQueries)
      .withColumn("rn", row_number().over(wAssign)).filter($"rn" <= nProbe)
      .select($"vec_id".as("query_id"), $"cid".as("list_id"))
    val lut = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .crossJoin(broadcast(cents))
      .select($"query_id" +: $"cid" +: (0 until m).map(mi =>
        sqDist(sub($"qv", mi), sub($"cvec", mi)).as(s"q$mi")): _*)
      .groupBy($"query_id")
      .agg(transform(sort_array(collect_list(struct($"cid", col("q0")))), _.getField("q0")).as("a0"),
        (1 until m).map(mi =>
          transform(sort_array(collect_list(struct($"cid", col(s"q$mi")))), _.getField(s"q$mi"))
            .as(s"a$mi")): _*)
    val dist = (0 until m).map(mi =>
      element_at(col(s"a$mi"), (col(s"c$mi") + 1).cast("int"))).reduceLeft(_ + _)
    val w = Window.partitionBy($"query_id").orderBy($"approx_dist".asc, $"neighbor_id".asc)
    broadcast(probes.join(lut, "query_id"))
      .join(codes, "list_id")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"), dist.as("approx_dist"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter($"rnk" <= k)
  }

  /** Exact cosine top-k of a small query batch (vec_id < nQueries)
    * against the whole corpus. Query side broadcasts; scores are
    * fold-exact doubles (SURVEY §5), ranks tie-break on vec_id. */
  /** Exact re-rank refinement — the last stage of the production
    * billion-vector pipeline (IVF narrows WHERE to look, PQ prices
    * candidates from codes, refine RE-SCORES the few survivors from
    * raw vectors): [[ivfpqTopK]]'s ADC top-`kCand` candidate ids
    * fetch their full vectors through one equi-join (shuffle ∝
    * candidates — queries × kCand rows, the only time raw corpus
    * vectors enter the search path) and exact fold-order cosine
    * reranks to the final top-`k`. Quantization error cannot reorder
    * the output ranking — only candidate RECALL is approximate, the
    * scores are exact. */
  def refineTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
      kCand: Int = 10, k: Int = 5): DataFrame = {
    import spark.implicits._
    val cand = ivfpqTopK(spark, dir, nQueries = nQueries, k = kCand)
      .select($"query_id", $"neighbor_id")
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    val q = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qnrm"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    cand
      .join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select($"query_id", $"neighbor_id",
        (VecFns.dot($"qv", $"embedding") / ($"qnrm" * $"nrm")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter($"rnk" <= k)
  }

  /** Embedding-corpus validation profile — the pre-flight every ANN
    * index build runs before paying for it (a handful of zero or
    * denormal vectors silently poisons cosine scores; a ragged dim
    * breaks PQ sub-spacing): per label, vector counts, dimension
    * bounds, exact-zero component counts, and norm² extremes. All
    * scan-local fold-exact math; the only cross-group traffic is the
    * tiny per-label aggregate. Norm² SUMS export as floor(v·1e6)
    * integers — a raw double sum would be aggregation-order-
    * dependent. */
  def embedProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"label",
        VecFns.normSq($"embedding").as("n2"),
        size($"embedding").as("dim"),
        size(filter($"embedding", x => x === lit(0.0f))).as("zeros"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        min($"dim").cast(LongType).as("dim_min"),
        max($"dim").cast(LongType).as("dim_max"),
        min($"n2").as("norm2_min"),
        max($"n2").as("norm2_max"),
        sum(floor($"n2" * 1000000.0d).cast(LongType)).as("norm2_micro_sum"),
        sum($"zeros").cast(LongType).as("n_zero_dims"))
  }

  /** k-NN label-probe evaluation (`embed_knn_eval`) — the standard
    * embedding-quality check a training pipeline runs after any
    * projection/quantization change: leave-one-out k-NN over a query
    * subset, majority-vote the neighbors' labels, report the
    * prediction per query. Same broadcast-query brute scoring shape
    * as [[bruteTopK]] (deliberately exact — the eval must not inherit
    * the index's recall) plus one tiny vote rollup; ties break
    * deterministically (most votes, then smallest label). At 100 TB
    * the query subset stays probe-sized, so the broadcast join is the
    * whole story: shuffle ∝ corpus × 0. */
  def knnEval(spark: SparkSession, dir: String, nQueries: Int = 50, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", $"label",
        VecFns.norm($"embedding").as("nrm"))
    val q = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        $"nrm".as("qnrm"), $"label".as("true_label"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    val nn = emb.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"true_label", $"vec_id".as("neighbor_id"),
        $"label".as("n_label"),
        (VecFns.dot($"qv", $"embedding") / ($"qnrm" * $"nrm")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
    val wVote = Window.partitionBy($"query_id")
      .orderBy($"n_votes".desc, $"n_label".asc)
    nn.groupBy($"query_id", $"true_label", $"n_label")
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("rn", row_number().over(wVote))
      .filter($"rn" === 1)
      .select($"query_id", $"true_label", $"n_label".as("pred_label"),
        $"n_votes", ($"n_label" === $"true_label").as("correct"))
  }

  def bruteTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    val q = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qnrm"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    emb.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (VecFns.dot($"qv", $"embedding") / ($"qnrm" * $"nrm")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter($"rnk" <= k)
  }

  /** IVF-style ANN — the other standard scale path beside LSH:
    * a small coarse-quantizer codebook partitions the corpus into
    * inverted lists, and queries probe only their nProbe nearest
    * lists.
    *
    * The codebook here is a deterministic seed subset of the corpus
    * (vec_id < nCentroids) standing in for an offline-trained k-means
    * codebook — training is an offline batch job in a real pipeline;
    * what the engine must get right, and what this operator
    * exercises, is the ONLINE plan shape: centroids broadcast to a
    * single assignment pass (no shuffle to build the index), the
    * inverted index lives hash-partitioned by centroid id, and the
    * search is an equi-join on centroid id touching only the probed
    * fraction of the corpus (nProbe/nCentroids of the data instead of
    * all of it). Every vector lands in exactly one list, so probes
    * need no dedup.
    *
    * Adaptive width (r12, the LSH-rule treatment for IVF): fixed
    * 16 cells stop separating the space once lists grow into the
    * thousands — MEASURED 0.74 recall@5 at 16/4 on the 10x
    * diverse-jitter corpus (20k vectors) — so the codebook scales to
    * ~250-member cells (GREATEST(16, N/250); the ann_knn_graph rule's
    * divisor is tuned separately for ITS corpus-proportional query
    * side — see knnGraph's measured sweep)
    * and the probe count grows logarithmically with the codebook
    * (GREATEST(4, ceil(log2 nc))). Measured on the 10x diverse
    * corpus: 80 cells / 7 probes → 0.98 recall@5 at a 8.75% probed
    * fraction vs 0.74 at 16/4's 25% — finer cells beat wider probes
    * per candidate scanned, the standard IVF trade. Every test SF
    * stays at 16/4, unchanged; the DuckDB oracles compute the
    * identical integer predicates (ncents/nprobe CTEs). Explicit
    * arguments remain the caller's knob. At 10^9 vectors the
    * assignment pass (N·nc dots) is where a real deployment swaps the
    * flat codebook for a hierarchical/k-means one — documented, not
    * hidden. */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nCentroids: Int = -1, nProbe: Int = -1): DataFrame = {
    import spark.implicits._
    val nc = if (nCentroids > 0) nCentroids else ivfCells(corpusN(spark, dir))
    val np = if (nProbe > 0) nProbe else ivfProbes(nc)
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    // scan-local assignment (r13 continuation): with the adaptive
    // codebook the old crossJoin+row_number spelling windowed N·nc
    // scored rows (160M at the 100x census — measured 218 s for this
    // key alone); the native TopCentroids expression evaluates the
    // same fold-exact cosines against the plan-embedded codebook in
    // one codegen'd pass over the scan
    val cb = codebookOf(emb, nc)
    val index = assignTop(emb, cb, 1)
      .select($"cid", $"vec_id", $"embedding", $"nrm")
    val probes = assignTop(emb.filter($"vec_id" < nQueries), cb, np)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qnrm"), $"cid")
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    // probe set = queries × nProbe, small by contract (like
    // ann_brute's query batch): broadcast it so the inverted index is
    // never shuffled for the search
    broadcast(probes).join(index, "cid")
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (VecFns.dot($"qv", $"embedding") / ($"qnrm" * $"nrm")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter($"rnk" <= k)
  }

  /** Metadata-FILTERED ANN (`ann_filtered`) — the hybrid-search /
    * hard-negative-mining shape: each query retrieves its top-k
    * nearest neighbors among vectors whose `label` DIFFERS from the
    * query's own (cross-class retrieval — the contrastive-training
    * complement of [[Curation.sampleNegative]]'s hash-random draws).
    *
    * The scale decision this operator exercises is PRE-filtering:
    * the predicate applies to the inverted-index side BEFORE scoring,
    * inside the probe equi-join — post-filtering a top-k result
    * under-fills k whenever same-class vectors dominate a
    * neighborhood (they do; that is what embedding classes mean).
    * Plan shape is [[ivfTopK]]'s: centroids broadcast for one
    * assignment pass, probes (queries × nProbe, query label riding
    * along) broadcast into the index join, and the filter is one
    * scan-local predicate on the join — the corpus never shuffles
    * and the filtered fraction prunes before any dot product. */
  def filteredTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", $"label",
        VecFns.norm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" < nCentroids)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"), $"nrm".as("cnrm"))
    val scored = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"label", $"nrm", $"cid",
        (VecFns.dot($"embedding", $"cvec") / ($"nrm" * $"cnrm")).as("ccos"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid".asc)
    val index = scored.withColumn("rn", row_number().over(wAssign)).filter($"rn" === 1)
      .select($"cid", $"vec_id", $"embedding", $"label", $"nrm")
    val probes = scored.filter($"vec_id" < nQueries)
      .withColumn("rn", row_number().over(wAssign)).filter($"rn" <= nProbe)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qnrm"),
        $"label".as("qlabel"), $"cid")
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    broadcast(probes).join(index, "cid")
      .where($"vec_id" =!= $"query_id" && $"label" =!= $"qlabel")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (VecFns.dot($"qv", $"embedding") / ($"qnrm" * $"nrm")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter($"rnk" <= k)
  }

  /** RANGE search (`ann_range`) — the similarity-search variant
    * top-k cannot express: ALL neighbors above a similarity floor
    * (near-duplicate radius queries, "everything within ε of this
    * centroid"), where the result size is data-dependent, not k.
    * Same IVF plan shape as [[ivfTopK]] — centroids broadcast,
    * probes broadcast into the inverted-index equi-join — but the
    * per-query window rank is REPLACED by a scan-local threshold
    * predicate, so the operator needs no window exchange at all:
    * score, filter, done — at 100 TB that is the difference between
    * a shuffle keyed on query and none. */
  def rangeSearch(spark: SparkSession, dir: String, nQueries: Int = 10,
      minCos: Double = 0.2d, nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" < nCentroids)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"), $"nrm".as("cnrm"))
    val scored = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"nrm", $"cid",
        (VecFns.dot($"embedding", $"cvec") / ($"nrm" * $"cnrm")).as("ccos"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid".asc)
    val index = scored.withColumn("rn", row_number().over(wAssign)).filter($"rn" === 1)
      .select($"cid", $"vec_id", $"embedding", $"nrm")
    val probes = scored.filter($"vec_id" < nQueries)
      .withColumn("rn", row_number().over(wAssign)).filter($"rn" <= nProbe)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qnrm"), $"cid")
    broadcast(probes).join(index, "cid")
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (VecFns.dot($"qv", $"embedding") / ($"qnrm" * $"nrm")).as("cosine"))
      .filter($"cosine" >= minCos)
  }

  /** IVF-OPQ-PQ (`ann_ivfopq`): the full production composition —
    * IVF picks WHICH inverted lists a query touches (full-vector
    * cosine, unaffected by any rotation), OPQ's learned permutation
    * ([[opqDims]] — the variance-balanced serpentine deal) decides
    * how the dimensions split into PQ subspaces, and PQ scores the
    * touched codes through a broadcast per-query LUT. The permuted
    * gather is scan-local element_at's producing a contiguous-
    * sliceable vector (dims ordered by (subspace, position)), so the
    * whole search keeps [[ivfpqTopK]]'s plan shape: codebooks and
    * (probes ⋈ LUTs) broadcast, the code table never shuffles. */
  def ivfopqTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nCentroids: Int = 16, nProbe: Int = 4, m: Int = 4, subDim: Int = 16): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Column
    def sub(c: Column, mi: Int): Column = slice(c, mi * subDim + 1, subDim)
    def sqDist(a: Column, b: Column): Column = graft.plans.VecExprs.sqDistFFCol(a, b)
    val dims = opqDims(spark, dir, m)
    // permuted float vector, contiguous per subspace: dims in
    // (subspace, position) order, so sub(pe, m) is a plain slice
    def permuted(e: Column): Column =
      array((0 until m).flatMap(s => dims(s).map(d => element_at(e, d + 1))): _*)
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", permuted($"embedding").as("pe"),
        VecFns.norm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" < nCentroids)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"),
        $"pe".as("cpe"), $"nrm".as("cnrm"))
    val scored = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"pe", $"cid",
        (VecFns.dot($"embedding", $"cvec") / ($"nrm" * $"cnrm")).as("ccos"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid".asc)
    val assign = scored.withColumn("rn", row_number().over(wAssign)).filter($"rn" === 1)
      .select($"cid".as("list_id"), $"vec_id", $"pe")
    val codes = assign.crossJoin(broadcast(cents))
      .select($"list_id" +: $"vec_id" +: (0 until m).map(mi =>
        struct(sqDist(sub($"pe", mi), sub($"cpe", mi)).as("d"),
          $"cid".as("c")).as(s"s$mi")): _*)
      .groupBy($"list_id", $"vec_id")
      .agg(min(col("s0")).getField("c").as("c0"),
        (1 until m).map(mi => min(col(s"s$mi")).getField("c").as(s"c$mi")): _*)
    val probes = scored.filter($"vec_id" < nQueries)
      .withColumn("rn", row_number().over(wAssign)).filter($"rn" <= nProbe)
      .select($"vec_id".as("query_id"), $"cid".as("list_id"))
    val lut = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"pe".as("qpe"))
      .crossJoin(broadcast(cents))
      .select($"query_id" +: $"cid" +: (0 until m).map(mi =>
        sqDist(sub($"qpe", mi), sub($"cpe", mi)).as(s"q$mi")): _*)
      .groupBy($"query_id")
      .agg(transform(sort_array(collect_list(struct($"cid", col("q0")))), _.getField("q0")).as("a0"),
        (1 until m).map(mi =>
          transform(sort_array(collect_list(struct($"cid", col(s"q$mi")))), _.getField(s"q$mi"))
            .as(s"a$mi")): _*)
    val dist = (0 until m).map(mi =>
      element_at(col(s"a$mi"), (col(s"c$mi") + 1).cast("int"))).reduceLeft(_ + _)
    val w = Window.partitionBy($"query_id").orderBy($"approx_dist".asc, $"neighbor_id".asc)
    broadcast(probes.join(lut, "query_id"))
      .join(codes, "list_id")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"), dist.as("approx_dist"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter($"rnk" <= k)
  }

  /** Distributed k-means over the embeddings (Lloyd's algorithm, a
    * fixed `iters` rounds) — the offline training job the IVF/PQ
    * codebooks stand in for, run as the standard Spark shape: the K
    * centroids BROADCAST to a single assignment pass per round
    * (min-struct argmin, ties to the smaller centroid id), and the
    * centroid update is one partial-aggregated groupBy over
    * (cluster, dimension) — per round the corpus is scanned once and
    * only K×dim numbers ever return to the plan. Rounds are a fixed
    * small constant (k-means iterations, not data size), so the 100 TB
    * cost is `iters` corpus scans with map-side combine.
    *
    * Engine-exact by construction (SURVEY §5): vectors quantize to
    * 1e-6-resolution longs (one deterministic round-half-away-from-
    * zero per element), so centroid sums are EXACT integers in any
    * aggregation order — the one place naive k-means goes
    * nondeterministic under Spark's unordered partial aggregation —
    * and each mean is a single long/long IEEE division. Distances
    * fold sequentially in doubles (same order both engines). Output:
    * per-vector assignment after round 1 and after round `iters`,
    * plus whether it moved — integers and booleans only. */
  def kmeans(spark: SparkSession, dir: String, k: Int = 8, iters: Int = 2): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Column
    require(iters >= 1, "kmeans needs at least one assignment round")
    val q = Tables.embeddings(spark, dir)
      .select($"vec_id",
        transform($"embedding", x => round(x.cast(DoubleType) * 1e6d).cast(LongType)).as("qv"))
    // fold-exact squared L2: quantized longs vs double centroids —
    // native single-pass (codegen'd), parity with the HOF form
    // spec-held
    def sqDist(a: Column, b: Column): Column =
      graft.plans.VecExprs.sqDistLDCol(a, b)
    // one assignment pass: centroids broadcast, argmin via min(struct)
    def assign(cents: DataFrame): DataFrame =
      q.crossJoin(broadcast(cents))
        .select($"vec_id", $"qv",
          struct(sqDist($"qv", $"cvec").as("d"), $"cid".as("c")).as("s"))
        .groupBy($"vec_id", $"qv").agg(min($"s").getField("c").as("cluster"))
    // centroid update: exact long sums per (cluster, dim), one
    // division per mean, repacked dim-ordered
    def recenter(assigned: DataFrame): DataFrame =
      assigned.select($"cluster".as("cid"), posexplode($"qv").as(Seq("pos", "v")))
        .groupBy($"cid", $"pos")
        .agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .withColumn("mean", $"s".cast(DoubleType) / $"n".cast(DoubleType))
        .groupBy($"cid")
        .agg(transform(sort_array(collect_list(struct($"pos", $"mean"))),
          _.getField("mean")).as("cvec"))
    // deterministic seeding: the K smallest vec_ids (every seed is
    // its own nearest centroid in round 1, so no cluster starts empty)
    val seeds = q.filter($"vec_id" < k)
      .select($"vec_id".as("cid"), transform($"qv", _.cast(DoubleType)).as("cvec"))
    // first is consumed by the recenter chain AND the final join —
    // checkpoint so the seed assignment pass runs once
    val first = Dedup.localCheckpointTransient(assign(seeds))
    val last = (1 until iters).foldLeft(first)((a, _) => assign(recenter(a)))
    first.select($"vec_id", $"cluster".as("c1"))
      .join(last.select($"vec_id", $"cluster"), "vec_id")
      .select($"vec_id", $"c1", $"cluster", ($"c1" =!= $"cluster").as("moved"))
  }

  /** Trained product quantization (`ann_pq_trained`): real PQ
    * codebook TRAINING — per-subspace Lloyd's over the corpus — where
    * [[pqTopK]] deliberately uses seed-subset codebooks (the offline-
    * job stand-in). This closes that loop: the engine trains the
    * codebooks it searches with. Each 64-dim vector splits into m=4
    * 16-dim subvectors and every subspace runs the SAME engine-exact
    * k-means as [[kmeans]] (quantized-long coordinates, fold-exact
    * squared-L2 via the native SqDistLD expression, deterministic
    * (d, cid) argmin, exact long-sum centroid updates with one
    * division per mean) — just keyed by (subspace, cluster) instead
    * of cluster. Output per (vector, subspace): first-round and
    * final code plus whether it moved — the encoded corpus AND the
    * training diagnostic in one frame.
    *
    * Scale shape: the subspace explode is bounded ×m scan-local
    * fan-out; codebooks (m×k centroids) BROADCAST to both assignment
    * passes, the update is one partial-aggregated groupBy(sub, cid,
    * pos) — shuffle ∝ corpus×m subvector rows, never pairs; nothing
    * corpus-sized ever reaches the driver. */
  def pqTrain(spark: SparkSession, dir: String, m: Int = 4, subDim: Int = 16,
      k: Int = 16, iters: Int = 2): DataFrame = {
    import spark.implicits._
    require(iters >= 1, "pq training needs at least one assignment round")
    val subs = (0 until m).map(s =>
      struct(lit(s.toLong).as("sub"), slice($"qv64", s * subDim + 1, subDim).as("qv")))
    val q = Tables.embeddings(spark, dir)
      .select($"vec_id",
        transform($"embedding", x => round(x.cast(DoubleType) * 1e6d).cast(LongType)).as("qv64"))
      .select($"vec_id", explode(array(subs: _*)).as("e"))
      .select($"vec_id", $"e.sub".as("sub"), $"e.qv".as("qv"))
    pqLloydCore(q, k, iters)
  }

  /** OPQ (`ann_opq`): Optimized Product Quantization — learn a
    * rotation that balances information across the PQ subspaces
    * before [[pqTrain]]'s per-subspace Lloyd's runs (Ge et al. 2013,
    * "Optimized Product Quantization for Approximate Nearest
    * Neighbor Search"). The rotation is restricted to the PERMUTATION
    * subgroup — the paper's variance-balancing initialization —
    * because a full SVD-learned rotation is not bit-reproducible
    * across engines, while a permutation is: rank the 64 dimensions
    * by integer-exact corpus variance numerator n·Σv² − (Σv)²
    * (decimal-exact on both engines), then deal them to the m
    * subspaces in serpentine order (round t assigns rank r to
    * subspace r%m for even t, m−1−r%m for odd t), so each subspace
    * receives an even mix of high- and low-variance dimensions.
    * Codes then train with the IDENTICAL engine-exact Lloyd recipe
    * as ann_pq_trained ([[pqLloydCore]]) — this closes the
    * IVF-OPQ-PQ loop: [[ivfpqTopK]]'s search shape over
    * variance-balanced codes.
    *
    * Scale shape: the variance census is one partial-aggregated
    * groupBy over d per-dim stats; the 64-row permutation is a
    * dimension-sized driver reduction (embed_pca's documented
    * codebook pattern); the permuted gather is scan-local
    * element_at's — everything downstream is pqTrain's shape. */
  /** The learned OPQ rotation as a dimension permutation: per
    * subspace, the source dimensions in gather order (serpentine deal
    * of dims ranked by integer-exact variance numerator). 64 rows —
    * a dimension-sized driver reduction, shared by [[opqTrain]] and
    * [[ivfopqTopK]]. */
  private def opqDims(spark: SparkSession, dir: String, m: Int): Map[Int, Seq[Int]] = {
    import spark.implicits._
    val qz = Tables.embeddings(spark, dir)
      .select($"vec_id",
        transform($"embedding", x => round(x.cast(DoubleType) * 1e6d).cast(LongType)).as("qv64"))
    val stats = qz.select(posexplode($"qv64").as(Seq("i", "v")))
      .groupBy($"i")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"),
        sum($"v".cast("decimal(38,0)") * $"v").as("ss"))
      .select($"i",
        ($"n".cast("decimal(38,0)") * $"ss" -
          $"s".cast("decimal(38,0)") * $"s").as("var_num"))
    // 64 rows — dimension-sized; the single-partition window is fine
    val ranks = stats
      .select($"i", (row_number().over(Window.orderBy($"var_num".desc, $"i".asc)) - 1).as("r"))
      .collect().map(row => (row.getInt(0), row.getInt(1)))
    ranks.map { case (i, r) =>
      val t = r / m
      val j = r % m
      (if (t % 2 == 0) j else m - 1 - j, t, i)
    }.groupBy(_._1).map { case (s, xs) =>
      s -> xs.sortBy(_._2).map(_._3).toSeq
    }
  }

  def opqTrain(spark: SparkSession, dir: String, m: Int = 4,
      k: Int = 16, iters: Int = 2): DataFrame = {
    import spark.implicits._
    require(iters >= 1, "opq training needs at least one assignment round")
    val qz = Tables.embeddings(spark, dir)
      .select($"vec_id",
        transform($"embedding", x => round(x.cast(DoubleType) * 1e6d).cast(LongType)).as("qv64"))
    val dimsBySub = opqDims(spark, dir, m)
    val subs = (0 until m).map(s =>
      struct(lit(s.toLong).as("sub"),
        array(dimsBySub(s).map(d => element_at($"qv64", d + 1)): _*).as("qv")))
    val q = qz.select($"vec_id", explode(array(subs: _*)).as("e"))
      .select($"vec_id", $"e.sub".as("sub"), $"e.qv".as("qv"))
    pqLloydCore(q, k, iters)
  }

  /** Shared per-subspace Lloyd's core of [[pqTrain]] / [[opqTrain]]:
    * engine-exact k-means keyed by (subspace, cluster) over quantized
    * long subvectors `q` = (vec_id, sub, qv). */
  private def pqLloydCore(q: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.Column
    def sqDist(a: Column, b: Column): Column =
      graft.plans.VecExprs.sqDistLDCol(a, b)
    def assign(cents: DataFrame): DataFrame =
      q.join(broadcast(cents), Seq("sub"))
        .select($"vec_id", $"sub", $"qv",
          struct(sqDist($"qv", $"cvec").as("d"), $"cid".as("c")).as("s"))
        .groupBy($"vec_id", $"sub", $"qv").agg(min($"s").getField("c").as("code"))
    def recenter(assigned: DataFrame): DataFrame =
      assigned.select($"sub", $"code".as("cid"), posexplode($"qv").as(Seq("pos", "v")))
        .groupBy($"sub", $"cid", $"pos")
        .agg(sum($"v").as("vsum"), count(lit(1)).as("n"))
        .withColumn("mean", $"vsum".cast(DoubleType) / $"n".cast(DoubleType))
        .groupBy($"sub", $"cid")
        .agg(transform(sort_array(collect_list(struct($"pos", $"mean"))),
          _.getField("mean")).as("cvec"))
    // deterministic seeding per subspace: the k smallest vec_ids'
    // subvectors (each seed is its own nearest centroid in round 1)
    val seeds = q.filter($"vec_id" < k)
      .select($"sub", $"vec_id".as("cid"), transform($"qv", _.cast(DoubleType)).as("cvec"))
    // first is consumed by the recenter chain AND the final join —
    // checkpoint so the seed assignment pass runs once
    val first = Dedup.localCheckpointTransient(assign(seeds))
    val last = (1 until iters).foldLeft(first)((a, _) => assign(recenter(a)))
    first.select($"vec_id", $"sub", $"code".as("c1"))
      .join(last.select($"vec_id", $"sub", $"code"), Seq("vec_id", "sub"))
      .select($"vec_id", $"sub", $"c1", $"code", ($"c1" =!= $"code").as("moved"))
  }

  /** Semantic deduplication (the SemDeDup shape — Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus embeddings with k-means,
    * then mark near-duplicate pairs ONLY within each cluster and keep
    * one representative per duplicate neighborhood (smallest vec_id —
    * the [[graft.operators.Dedup]] keeper convention). The clusters
    * are what make this a 100 TB operator: the quadratic pair search
    * is bounded to Σ|cluster|² instead of N² — k grows with the
    * corpus so cluster sizes stay bounded, and each cluster's pairs
    * co-locate through one equi-join on the cluster id (shuffle ∝
    * corpus, never ∝ pairs).
    *
    * Reuses [[kmeans]]' engine-exact assignment (quantized-long
    * centroids, deterministic argmin) and [[Dedup.embed]]'s
    * fold-exact cosine, so the oracle replays both verbatim. Output:
    * every vector with its cluster, duplicate-neighbor count, and
    * whether it survives (keep = no smaller-id near neighbor in its
    * cluster). */
  /** Semantic decontamination (`decontaminate_semantic`): flag
    * corpus vectors whose embedding is near-identical to any HELD-OUT
    * evaluation vector — the semantic complement of the n-gram
    * [[TextAnalysis.decontaminate]] family (paraphrased leakage that
    * shares no 8-gram still collides in embedding space). The holdout
    * (vec_id < `holdout`, the deterministic seed-set convention) is
    * eval-set-sized by contract, so it BROADCASTS to one scan of the
    * corpus — the right 100 TB shape: no shuffle at all, the max
    * similarity and its argmax (ties to the smaller holdout id)
    * reduce scan-locally per vector via a fixed-order array fold. */
  def decontaminateSemantic(spark: SparkSession, dir: String,
      holdout: Int = 50, tau: Double = 0.35d): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    val hold = emb.filter($"vec_id" < holdout)
      .select($"vec_id".as("h_id"), $"embedding".as("hv"), $"nrm".as("hnrm"))
    val w = Window.partitionBy($"vec_id").orderBy($"cosine".desc, $"h_id".asc)
    emb.filter($"vec_id" >= holdout)
      .join(broadcast(hold))
      .select($"vec_id", $"h_id",
        (VecFns.dot($"embedding", $"hv") / ($"nrm" * $"hnrm")).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"vec_id", $"h_id".as("nearest_holdout"),
        $"cosine".as("max_cosine"), ($"cosine" >= tau).as("contaminated"))
  }

  def semdedup(spark: SparkSession, dir: String, k: Int = 8, iters: Int = 2,
      tau: Double = 0.35d): DataFrame = {
    import spark.implicits._
    val asg = kmeans(spark, dir, k, iters).select($"vec_id", $"cluster")
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    val v = asg.join(emb, "vec_id")
    val pairs = v.as("a").join(v.as("b"),
        $"a.cluster" === $"b.cluster" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("va"), $"b.vec_id".as("vb"),
        (VecFns.dot($"a.embedding", $"b.embedding") / ($"a.nrm" * $"b.nrm")).as("cosine"))
      .filter($"cosine" >= tau)
    // neighbor census (both directions) + loser set (has a smaller-id
    // near neighbor); both shuffle ∝ duplicate pairs, not corpus
    val nbrs = pairs.select($"va".as("vec_id"))
      .unionByName(pairs.select($"vb".as("vec_id")))
      .groupBy($"vec_id").agg(count(lit(1)).as("n"))
    val losers = pairs.select($"vb".as("vec_id")).distinct()
      .withColumn("lost", lit(true))
    asg.join(nbrs, Seq("vec_id"), "left_outer")
      .join(losers, Seq("vec_id"), "left_outer")
      .select($"vec_id", $"cluster",
        coalesce($"n", lit(0L)).as("n_dup_neighbors"),
        $"lost".isNull.as("keep"))
  }

  /** Symmetric int8 quantization of the embedding corpus — the 4×
    * memory cut that lets a 100 TB float32 vector corpus serve ANN
    * from a quarter of the RAM (and combines with PQ for more): per
    * vector, scale = max|x|/127 and q_i = floor(x_i·127/max|x| + 0.5)
    * ∈ [-127, 127]. Entirely scan-local — zero shuffle, no
    * per-partition state, the whole transform runs inside the scan's
    * codegen stage over codegen'd higher-order array functions. The
    * rounding is floor(v + 0.5) written out explicitly, NOT round():
    * engines disagree on round-half-to-even vs half-away, floor is
    * IEEE-identical everywhere. Output checksums (q_sum, q_min,
    * q_max) make the quantized payload oracle-comparable without
    * shipping 64 columns. All-zero vectors quantize to all-zero
    * codes (scale 0) rather than dividing by zero. */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ma as a materialized column, NOT referenced inside the lambda —
    // codegen CSE does not descend into higher-order-function lambdas,
    // so an inline reference re-evaluates the array_max per ELEMENT
    // (d² ops and d array allocs per vector instead of d)
    val ma = array_max(transform($"embedding", x => abs(x.cast(DoubleType))))
    val q = when($"ma" > 0d,
      transform($"embedding",
        x => floor(x.cast(DoubleType) * lit(127.0d) / $"ma" + lit(0.5d))))
      .otherwise(transform($"embedding", _ => lit(0L)))
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", ma.as("ma"))
      .select($"vec_id", ($"ma" / lit(127.0d)).as("scale"), q.as("q"))
      .select($"vec_id", $"scale",
        aggregate($"q", lit(0L), _ + _).as("q_sum"),
        array_min($"q").as("q_min"),
        array_max($"q").as("q_max"))
  }

  /** Adaptive hyperplane-signature width: the smallest p ∈ [4, 24]
    * with 2^p · targetBucket ≥ N, so expected bucket width stays
    * ~targetBucket as the corpus grows (4 bits at the test SFs,
    * ~23 bits at 10^9 vectors) instead of N/16 with a fixed-width
    * signature. The count is a parquet-metadata aggregate, run once
    * at plan time; the DuckDB oracle computes the identical integer
    * predicate (nplanes CTE), so both engines pick the same width. */
  def adaptivePlanes(spark: SparkSession, dir: String,
      targetBucket: Int = 200): Int = {
    val n = corpusN(spark, dir)
    (4 to 24).find(p => (1L << p) * targetBucket >= n).getOrElse(24)
  }

  /** Adaptive IVF codebook width for the ONLINE search ([[ivfTopK]]):
    * ~250-member cells, floor 16 — oracle mirror
    * GREATEST(16, n // 250). Measured on the 10x diverse-jitter
    * corpus (see ivfTopK's doc). */
  private[graft] def ivfCells(n: Long): Int = math.max(16, (n / 250L).toInt)

  /** Driver-collected codebook of the first `nc` vectors, cid ASC —
    * the same rows `broadcast(cents)` shipped in the crossJoin
    * spelling, re-shaped for the native [[graft.plans.TopCentroids]]
    * assignment expression (null for a NULL centroid vector, NaN for
    * a NULL norm). Dimension-sized by the IVF contract; at 10⁹
    * vectors the ~3.3M-entry codebook is where a deployment goes
    * hierarchical — documented at the adaptive call sites. */
  private def codebookOf(emb: DataFrame, nc: Int)
      : (Array[Long], Array[Array[Float]], Array[Double]) = {
    val cb = emb.filter(col("vec_id") < nc)
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .collect().sortBy(_.getLong(0))
    (cb.map(_.getLong(0)),
      cb.map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray),
      cb.map(r => if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
  }

  /** Scan-local top-P centroid assignment: the input's columns ride
    * through plus (cid, ccos, rn) for rn 1..P — exactly the rows the
    * N×nc crossJoin + per-vector row_number window produced for
    * rn ≤ P, evaluated by one codegen'd [[graft.plans.TopCentroids]]
    * pass instead of windowing the scored relation. */
  private def assignTop(df: DataFrame,
      cb: (Array[Long], Array[Array[Float]], Array[Double]),
      p: Int): DataFrame = {
    val keep = df.columns.map(col)
    df.withColumn("__tc", graft.plans.VecExprs.topCentroidsCol(
        col("embedding"), col("nrm"), cb._1, cb._2, cb._3, p))
      .select(keep :+ posexplode(col("__tc")).as(Seq("pos", "tc")): _*)
      .select(keep ++ Seq(col("tc.cid").as("cid"),
        col("tc.ccos").as("ccos"), (col("pos") + 1).cast("int").as("rn")): _*)
  }

  /** Adaptive probe count: ceil(log2 nc), floor 4 — oracle mirror
    * GREATEST(4, CEIL(LOG2(nc))). */
  private[graft] def ivfProbes(nc: Int): Int =
    math.max(4, 32 - Integer.numberOfLeadingZeros(nc - 1))

  /** Embedding-corpus row count, memoized per (session, dir):
    * ann_lsh, dedup_embed, lsh_recall and every other adaptive-width
    * consumer were each paying this full count scan at plan time
    * (VERDICT r8 #5). Same immutable-corpus assumption as
    * Dedup.labelCache. */
  private[graft] def corpusN(spark: SparkSession, dir: String): Long = {
    val perDir = corpusCount.synchronized {
      var m = corpusCount.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, Long]
        corpusCount.put(spark, m)
      }
      m
    }
    perDir.getOrElseUpdate(dir, Tables.embeddings(spark, dir).count())
  }

  /** Sessions weakly referenced (the GraftSession.observed idiom,
    * ADVICE r9): a stopped/abandoned SparkSession must not be pinned
    * forever by its count memo in a long-lived multi-session JVM. */
  private val corpusCount =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, Long]]()

  /** Drop the embedding-corpus count memo (test hook for a dir
    * rewritten in place mid-session). */
  private[graft] def clearCorpusCountCache(): Unit =
    corpusCount.synchronized { corpusCount.clear() }

  /** Bucketed hyperplane signatures with a hard per-bucket cap
    * (stop-band removal, the SimHash rule): buckets wider than
    * maxBucket — collapsed/clustered embeddings the adaptive width
    * can't split — are dropped, bounding per-bucket pair work.
    * Shared candidate tier for [[lshTopK]] and `Dedup.embed`. */
  def sigBuckets(spark: SparkSession, dir: String,
      maxBucket: Int = 800): DataFrame = {
    import spark.implicits._
    val sigs = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        VecFns.lshSignature($"embedding", adaptivePlanes(spark, dir)).as("sig"),
        VecFns.norm($"embedding").as("nrm"))
    // rare-side equi-join (not a broadcast anti-join on the hot set):
    // every consumer self-joins on sig, so the sig exchange happens
    // regardless and ReuseExchange serves the census + join sides
    // from one shuffle — broadcasting would re-derive the signatures
    val rare = StopBand.audited(
        sigs.groupBy($"sig").agg(count(lit(1)).as("bc")),
        "sig_buckets", maxBucket)
      .filter($"bc" <= maxBucket)
      .select($"sig")
    sigs.join(rare, Seq("sig"))
  }

  /** Per-query top-k election over a (query_id, neighbor_id, cosine)
    * candidate relation via the bounded-heap TopKPairs aggregate —
    * at most k (cosine, id) structs live in any aggregation buffer
    * and at most k cross the shuffle per query, where the
    * distinct() + row_number() formulation it replaces (VERDICT r9
    * nit) shuffled and sorted EVERY candidate row to discard all but
    * k. The heap's total order (value desc, key asc) IS the
    * election's deterministic (cosine DESC, neighbor_id ASC) order,
    * and its sorted-set buffer collapses cross-table duplicate
    * candidates for free (cosine is fold-exact, so the same pair is
    * bit-identical whichever bucket produced it — no distinct()
    * stage needed).
    *
    * NULL-cosine parity: a zero-norm vector's cosine is NULL
    * (VecFns.norm) and must still rank LAST-by-id like the window's
    * DESC-NULLS-LAST — the aggregate skips NULL inputs, so NULL
    * rides through the heap as -∞ (unreachable for a real cosine)
    * and is restored on the way out. */
  private def heapTopK(pairs: DataFrame, k: Int): DataFrame = {
    val negInf = lit(Double.NegativeInfinity)
    pairs
      .groupBy(col("query_id"))
      .agg(graft.plans.Sketch.topKPairs(
        coalesce(col("cosine"), negInf), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.key").as("neighbor_id"),
        when(col("col.value") === negInf, lit(null).cast(DoubleType))
          .otherwise(col("col.value")).as("cosine"),
        (col("pos") + 1).cast(LongType).as("rnk"))
  }

  /** LSH-bucketed ANN: vectors meet only within their adaptive-width
    * hyperplane-signature bucket (equi-join, shuffle ∝ data), top-3
    * in-bucket neighbors per vector via the bounded-heap election
    * ([[heapTopK]]). Recall trade: pairs split by a
    * hyperplane or in a dropped hot bucket are sacrificed — the
    * standard LSH cost/recall trade, same posture as simhash. */
  def lshTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val sigs = sigBuckets(spark, dir)
    heapTopK(
      sigs.as("a").join(sigs.as("b"), Seq("sig"))
        .where($"a.vec_id" =!= $"b.vec_id")
        .select($"a.vec_id".as("query_id"), $"b.vec_id".as("neighbor_id"),
          (VecFns.dot($"a.embedding", $"b.embedding") / ($"a.nrm" * $"b.nrm")).as("cosine")),
      k)
  }

  /** LSH recall harness (`lsh_recall`): recall@k of [[lshTopK]]'s
    * bucketed election against the exact brute ground truth on a
    * deterministic query sample (vec_id ≡ 0 mod qMod) — the LSH tier
    * shipped since r5 with its recall TRADE documented but never
    * MEASURED (VERDICT r8 #4); this prints the number. Pairs split by
    * a hyperplane or dropped with a hot bucket are exactly what the
    * shortfall counts. Both top-k elections are deterministic
    * ((cosine DESC, id ASC)), so the metric is exact.
    *
    * Shape: ground truth is sample × corpus (broadcast query batch,
    * one corpus scan — the [[bruteTopK]] posture: evaluation cost is
    * sample-bounded, never corpus²); the audited side is the
    * operator's own plan filtered to the sample. */
  def lshRecall(spark: SparkSession, dir: String, qMod: Int = 50, k: Int = 3): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    val q = emb.filter(pmod($"vec_id", lit(qMod.toLong)) === 0L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qnrm"))
    // truth election via the bounded-heap aggregate, not a window:
    // the sample × corpus cosine relation never shuffles — partial
    // heaps ship k pairs per query per map task where row_number
    // sorted the whole N·Q relation (~800M rows at the 100x census,
    // most of the harness's wall). Same deterministic
    // (cosine DESC, id ASC) election either way.
    // q is an N/qMod SAMPLE of the corpus — it scales with the data
    // (~5 GB framed at 10⁹ vectors), exactly the class the size gate
    // exists for; under the session threshold the plan is unchanged
    val truth = heapTopK(
        emb.join(JoinGate.gatedBroadcast(q, "lsh_recall.truth_q"),
            $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            (VecFns.dot($"qv", $"embedding") / ($"qnrm" * $"nrm")).as("cosine")),
        k)
      .select($"query_id", $"neighbor_id")
    val got = lshTopK(spark, dir, k)
      .filter(pmod($"query_id", lit(qMod.toLong)) === 0L)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    truth.join(got, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_found"))
      .select($"query_id", $"n_true", $"n_found",
        ($"n_found".cast(DoubleType) / $"n_true".cast(DoubleType)).as("recall"))
  }

  /** Multi-table signature buckets — the OR-construction that fixes
    * single-table LSH's measured recall (lsh_recall printed 0.23@3 at
    * sf0.01): L independent hyperplane tables (table t draws planes
    * at global indices t·p..t·p+p−1), a pair is a candidate if it
    * collides in ANY table, so miss probability compounds to
    * (1−r)^L. Same adaptive width, same per-(table, bucket) hot cap;
    * cost is L signatures per vector (scan-local) and an L-way
    * bucket fan-out into the SAME equi-join shape — shuffle ∝ L·N,
    * never pairs. */
  def sigBucketsMulti(spark: SparkSession, dir: String, nTables: Int = -1,
      maxBucket: Int = -1): DataFrame = {
    import spark.implicits._
    val planes = adaptivePlanes(spark, dir)
    val tables = if (nTables > 0) nTables else adaptiveTables(planes)
    val cap = if (maxBucket > 0) maxBucket else multiCap(corpusN(spark, dir))
    val sigs = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"),
        explode(array((0 until tables).map { t =>
          struct(lit(t).as("t"),
            VecFns.lshSignatureTable($"embedding", planes, t).as("sig"))
        }: _*)).as("ts"))
      .select($"vec_id", $"embedding", $"nrm", $"ts.t".as("t"), $"ts.sig".as("sig"))
    val rare = StopBand.audited(
        sigs.groupBy($"t", $"sig").agg(count(lit(1)).as("bc")),
        "sig_buckets_multi", cap)
      .filter($"bc" <= cap)
      .select($"t", $"sig")
    sigs.join(rare, Seq("t", "sig"))
  }

  /** Adaptive stop-band cap for the multi-table SEARCH tier (r12):
    * a fixed 800 cap is an absolute bound on bucket size, but the
    * corpus's dense regions hold a roughly FIXED FRACTION of N in a
    * roughly fixed number of buckets (signature space doesn't grow
    * with the corpus between width steps), so at 100x the fixed cap
    * silently removed 52% of the searchable index mass
    * (ProbeLshMass, /tmp/scale100_div) — the measured 0.495 recall@3
    * ceiling. cap = GREATEST(800, N/30) bounds the DROPPED mass
    * instead (≤0.4% at 100x-diverse, measured) while still pruning
    * the degenerate duplicate-blowup buckets (a 100x verbatim clone
    * family bucket holds ≥ 100·its 1x size ≫ N/30). Every corpus up
    * to 10x (N ≤ 24000) keeps the r11 value 800, so gate and bench
    * shapes are unchanged; the oracle computes the same integer
    * predicate (mcap CTE). The single-table tier ([[sigBuckets]])
    * deliberately keeps the fixed 800: it is the documented
    * cheap-and-lower-recall baseline the multi-table tier is
    * measured against. */
  private[graft] def multiCap(n: Long): Int = math.max(800, (n / 30L).toInt)

  /** Adaptive OR-construction width (r11): as the signature grows
    * (planes p = log₂(N/200)), a fixed-angle neighbor's per-table
    * collision probability decays ~agreeᵖ, so holding recall needs
    * the two standard levers to GROW with p — more tables and deeper
    * probes. L = max(4, p) tables (cost ∝ L, linear) and Hamming≤2
    * probing from p ≥ 6 (cost ∝ p²/2 probes). Measured need, 10x
    * DIVERSE corpus (make_scale.py --jitter — clone neighbors at
    * cosine ~0.66, not verbatim): the fixed L=4 / 1-bit rule held
    * 0.93 recall@3 at 1x (p=4) but fell to 0.69 at 10x (p=7), below
    * the ≥0.8 bar; per-table miss measured q = (1−0.69)^(1/4) ≈ 0.75
    * predicts 1−q⁷ ≈ 0.87 at L=7. At the test SFs p=4 → L=4, 1-bit:
    * bit-identical to the r10 semantics, so gate and bench shapes
    * are unchanged below 10x scale. */
  def adaptiveTables(planes: Int): Int = math.max(4, planes)

  /** Probe masks for one table: Hamming ≤ 1 below 6 planes (self +
    * p single flips), Hamming ≤ 2 from 6 planes up (+ p(p−1)/2 pair
    * flips), Hamming ≤ 3 from 10 planes up (+ p(p−1)(p−2)/6 triple
    * flips — the 100x width step, r13) — the deterministic
    * enumeration the oracle mirrors. Depth grows with width because
    * the miss tail is CORRELATED across tables (a far neighbor missed
    * by one table is likely missed by all — measured at 10x-diverse:
    * L 4→7 alone moved recall only 0.69→0.78), while deeper probes
    * effectively shorten every table's signature for the tail; the
    * r12 100x-diverse residual (recall@3 0.8429) is the
    * low-cosine-truth tail whose per-table P(Hamming ≤ 2) at p=10 is
    * ~0.20 — radius 3 roughly doubles it. Priced by the packed
    * evaluator (see [[lshMultiTopK]]): the extra fan-out is tens of
    * ns per candidate, not a relational join row. */
  def probeMasks(planes: Int): Seq[Long] = {
    val singles = (0 until planes).map(b => 1L << b)
    val pairs =
      if (planes >= 6)
        for { i <- 0 until planes; j <- i + 1 until planes }
          yield (1L << i) | (1L << j)
      else Seq.empty[Long]
    val triples =
      if (planes >= 10)
        for { i <- 0 until planes; j <- i + 1 until planes; l <- j + 1 until planes }
          yield (1L << i) | (1L << j) | (1L << l)
      else Seq.empty[Long]
    0L +: (singles ++ pairs ++ triples)
  }

  /** Multi-table LSH ANN (`ann_lsh_multi`): [[lshTopK]] with the
    * OR-construction candidate tier PLUS multi-probe — the
    * query side of table t probes its own bucket AND the
    * [[probeMasks]] buckets up to 1-2 hyperplane-flips away, so a
    * true neighbor is a candidate if its signature is within the
    * probe Hamming radius in ANY table. Multi-probe is the standard
    * recall lever that does NOT multiply index size (Lv et al.,
    * VLDB'07): the index side stays the L base buckets; only the
    * probe fan-out widens, so candidate shuffle is
    * ∝ L·|probes|·N — still linear in N, never pairs.
    * Within one table a pair matches at most ONE probe (its Hamming
    * distance picks the flip), and cross-table duplicates collapse
    * in the bounded-heap election ([[heapTopK]] — the TreeSet buffer
    * dedups bit-identical (cosine, id) pairs), so no distinct()
    * materializes the candidate set. Probing INTO a stop-banded hot
    * bucket finds nothing (the index dropped it) — the cap semantics
    * are unchanged. */
  /** One LSH table's bucketed index, packed for tight-loop pair
    * evaluation: cell lookup by signature, members as primitive
    * arrays — ids, precomputed norms (NaN standing in for the NULL
    * zero-vector norm), and the member vectors CONCATENATED into one
    * float array per cell with an offsets array (member m of cell c
    * spans flat(c)[offs(c)(m) until offs(c)(m+1))). The flat layout
    * is what lets the whole pack move as bulk primitive-array copies
    * (UnsafeArrayData.fromPrimitiveArray both ways — no per-member
    * object graph on the shuffle, the collect, or the broadcast) and
    * keeps a cell's vectors contiguous for the probe sweep. ~54 MB
    * per table at the 100x census — a broadcast, not a shuffle. */
  private[graft] final class PackedTable(
      val cellOf: java.util.HashMap[java.lang.Long, java.lang.Integer],
      val sigs: Array[Long],
      val ids: Array[Array[Long]],
      val offs: Array[Array[Int]],
      val flat: Array[Array[Float]],
      val nrms: Array[Array[Double]]) extends Serializable

  /** Multi-table LSH ANN (`ann_lsh_multi`): the OR-construction
    * candidate tier with multi-probe — a pair is a candidate if its
    * signatures are within the probe Hamming radius in ANY table
    * ([[probeMasks]]; Lv et al., VLDB'07: probing widens the lookup,
    * never the index). Candidates score by fold-exact cosine and the
    * per-query top-k election is (cosine DESC, id ASC).
    *
    * Execution (r13 rewrite, VERDICT r12 task 2): the relational
    * probe join streamed every candidate OCCURRENCE — L·|probes|
    * bucket fan-out, 48.7B pair rows on the 100x-diverse census
    * corpus — through a wide SMJ, a broadcast fetch, and a
    * non-codegen heap insert, ~500 ns apiece. The same candidate set
    * is now evaluated per TABLE from a packed broadcast of that
    * table's cells: each member enumerates its probe cells in the
    * broadcast map and runs the [[graft.plans.VecExprs.dot]] double
    * fold over primitive float arrays directly, keeping a k-cell
    * (cosine DESC, id ASC) insertion heap per query — tens of ns per
    * pair, no 10⁸-row relation ever materializes. Each table emits
    * its per-query top-k (a pair in the GLOBAL top-k is in the top-k
    * of every table list containing it, so the union of per-table
    * top-k lists is a lossless candidate cover), and the existing
    * bounded-heap election merges them — cross-table duplicates are
    * bit-identical (fold-exact cosine) and collapse in its sorted-set
    * buffer exactly as before. Results are bit-identical to the
    * relational spelling and to the oracle's DISTINCT-candidates CTE.
    *
    * Scale posture: the per-table broadcast is N·(64 floats + id +
    * norm) ≈ 54 MB at the 100x census — executor-memory-bounded like
    * the IVF codebook; at 10⁹ vectors the packed cells shard into an
    * ordinary (t, sig)-partitioned array-of-cells relation and the
    * evaluation becomes a partition-local join against the member's
    * own shard plus its probe neighborhood — the same cell math, one
    * more shuffle, documented here so nobody mistakes the broadcast
    * for the 100 TB plan. NULL/zero-norm members ride through with
    * NaN norms → NULL cosines, ranked last-by-id like everywhere
    * else. */
  def lshMultiTopK(spark: SparkSession, dir: String, k: Int = 3,
      nTables: Int = -1): DataFrame = {
    import spark.implicits._
    val planes = adaptivePlanes(spark, dir)
    val tables = if (nTables > 0) nTables else adaptiveTables(planes)
    val masks = probeMasks(planes).toArray
    // one distributed pass builds every table's signatures + stop-band
    // census; persisted so the per-table packing collects don't
    // recompute the projection 10×
    val idx = sigBucketsMulti(spark, dir, nTables)
      .select($"t", $"sig", $"vec_id", $"embedding", $"nrm")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // distributed pre-pack (r13 open item (a)): each cell's
      // primitive arrays — including the CONCATENATED member-vector
      // float array — are built inside mapGroups on the executors;
      // every column crossing the shuffle (and, on the broadcast
      // path, the collect) is a flat primitive array — bulk
      // UnsafeArrayData copies, no per-member object graph. The old
      // spelling collected raw rows and grouped them single-threaded
      // on the driver — ~60-100 s of the 299 s 100x census run.
      def packedCells(t: Int): org.apache.spark.sql.Dataset[LshCellT] =
        idx.filter($"t" === t)
          .select($"sig", $"vec_id", $"embedding", $"nrm")
          .as[(Long, Long, Array[Float], Option[Double])]
          .groupByKey(_._1)
          .mapGroups { (sig, it) =>
            val ms = it.toArray
            val n = ms.length
            val offs = new Array[Int](n + 1)
            var m = 0
            while (m < n) { offs(m + 1) = offs(m) + ms(m)._3.length; m += 1 }
            val flat = new Array[Float](offs(n))
            m = 0
            while (m < n) {
              System.arraycopy(ms(m)._3, 0, flat, offs(m), ms(m)._3.length)
              m += 1
            }
            (sig, ms.map(_._2), offs, flat,
              ms.map(_._4.getOrElse(Double.NaN)))
          }
      val packedBcs =
        new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.broadcast.Broadcast[_]]()
      def packOneTable(t: Int): DataFrame = {
        val cells = packedCells(t).collect()
        val nC = cells.length
        // Value type MUST be java.lang.Integer: with a scala.Int value
        // the erased get() returns null for a missing signature and
        // Scala unboxes that null to 0, so every probe miss would
        // silently sweep cell 0 — phantom candidates, wasted work.
        val cellOf = new java.util.HashMap[java.lang.Long, java.lang.Integer](nC * 2)
        val sigsA = new Array[Long](nC)
        val ids = new Array[Array[Long]](nC)
        val offsA = new Array[Array[Int]](nC)
        val flatA = new Array[Array[Float]](nC)
        val nrms = new Array[Array[Double]](nC)
        var ci = 0
        while (ci < nC) {
          val (sig, cIds, cOffs, cFlat, cNrms) = cells(ci)
          cellOf.put(sig, ci)
          sigsA(ci) = sig
          ids(ci) = cIds
          offsA(ci) = cOffs
          flatA(ci) = cFlat
          nrms(ci) = cNrms
          ci += 1
        }
        val bc = spark.sparkContext.broadcast(
          new PackedTable(cellOf, sigsA, ids, offsA, flatA, nrms))
        // queued here (possibly on a pack-pool thread), registered for
        // the blocking destroy on the CALLER thread after the packs
        // join — so the consumer's own transient drain reclaims the
        // spent packs instead of leaving them to the GC (r14; the 100x
        // census OOM'd the next key over exactly this residue)
        packedBcs.add(bc)
        val nCells = nC
        val kk = k
        val mk = masks
        spark.range(0L, nCells.toLong, 1L, spark.sessionState.conf.numShufflePartitions)
          .mapPartitions { cellIt =>
            val pt = bc.value
            cellIt.flatMap { ciL =>
              val c = ciL.toInt
              val qIds = pt.ids(c)
              val qOffs = pt.offs(c)
              val qFlat = pt.flat(c)
              val qNrms = pt.nrms(c)
              val homeSig = pt.sigs(c)
              val nQ = qIds.length
              // one k-cell insertion heap PER home member, ordered
              // (cos' DESC, id ASC), cos' = -inf for NULL cosine.
              // Loop nest is neighbor-outer / home-member-inner so the
              // home cell's vectors stay cache-resident for the whole
              // probe sweep and each neighbor cell streams ONCE per
              // (cell, probe) — the member-outer order re-streamed
              // every neighbor cell per member, ~25 TB of memory
              // traffic at the 100x census (measured: the evaluation
              // ran at 2 of 32 cores, bandwidth-stalled).
              val hc = new Array[Double](nQ * kk)
              val hi = new Array[Long](nQ * kk)
              val hn = new Array[Int](nQ)
              var mi = 0
              while (mi < mk.length) {
                val cell = pt.cellOf.get(java.lang.Long.valueOf(homeSig ^ mk(mi)))
                if (cell != null) {
                  val ni = cell.intValue()
                  sweepCell(pt.ids(ni), pt.offs(ni), pt.flat(ni), pt.nrms(ni),
                    qIds, qOffs, qFlat, qNrms, kk, hc, hi, hn)
                }
                mi += 1
              }
              emitHeaps(qIds, hc, hi, hn, kk)
            }
          }.toDF("query_id", "neighbor_id", "cosine")
      }
      // The 10⁹-vector hand-off, executable (r13): the packed table
      // is executor-memory-bounded, so past the session threshold the
      // SAME cell math runs as a cogroup over a (sig)-partitioned
      // cell relation — each home cell meets its probe neighborhood
      // through one probe-edge join + shuffle instead of a broadcast
      // lookup. Candidate volume and arithmetic are identical (the
      // shared sweepCell/emitHeaps kernels), so results are
      // bit-identical; what changes is WHERE a neighbor cell streams
      // from (shuffle, not broadcast memory). The flip is logged
      // loudly, JoinGate-style.
      def shardedOneTable(t: Int): DataFrame = {
        val cells = Dedup.localCheckpointTransient(packedCells(t).toDF())
          .as[LshCellT]
        val mk = masks
        val kk = k
        // probe edges are (probe_sig, home_sig) longs only; the
        // neighbor cell blob replicates once per referencing probe
        // edge through the join — the same per-(cell, probe) stream
        // the broadcast path reads from memory
        val edges = cells.flatMap(c => mk.iterator.map(m => (c._1 ^ m, c._1)))
        val nbByHome = edges.joinWith(cells, edges("_1") === cells("_1"))
          .map { case ((_, homeSig), nb) => (homeSig, nb) }
        cells.groupByKey(_._1)
          .cogroup(nbByHome.groupByKey(_._1)) { (_, homeIt, nbIt) =>
            if (!homeIt.hasNext) Iterator.empty
            else {
              val home = homeIt.next()
              val qIds = home._2
              val hc = new Array[Double](qIds.length * kk)
              val hi = new Array[Long](qIds.length * kk)
              val hn = new Array[Int](qIds.length)
              nbIt.foreach { case (_, nb) =>
                sweepCell(nb._2, nb._3, nb._4, nb._5,
                  qIds, home._3, home._4, home._5, kk, hc, hi, hn)
              }
              emitHeaps(qIds, hc, hi, hn, kk)
            }
          }.toDF("query_id", "neighbor_id", "cosine")
      }
      // materialize the persisted index ONCE before fanning out — the
      // concurrent pack jobs would otherwise race to first-compute the
      // same partitions (duplicated census work, and the stop-band
      // accumulators would double-count); after this the packs are
      // independent cache reads and run concurrently so the 10 small
      // shuffle jobs overlap (at 1x the sequential spelling paid
      // ~0.3 s of pure job-launch latency; at the 100x census the
      // collects and the driver-side map fills parallelize)
      idx.count()
      // size gate on the per-table pack (JoinGate's posture applied
      // to a broadcast VARIABLE): Catalyst's cached-relation estimate
      // covers all L tables' index rows, so each packed table is
      // ~est/L — an overestimate of the tighter packed form, which
      // errs toward the shuffled plan, never an OOM
      val estPerTable =
        idx.queryExecution.optimizedPlan.stats.sizeInBytes / tables
      // default derives from spark.driver.maxResultSize (r14): the
      // flat 4 GiB default made the sharded fallback unreachable in
      // the 1-4 GiB band — the collect tripped maxResultSize first
      val maxPack =
        JoinGate.packGateBytes(spark, "spark.graft.lsh.maxPackedBroadcastBytes")
      val sharded = estPerTable > maxPack
      println(s"[graft-lshpack] ann_lsh_multi: est per-table pack=" +
        s"$estPerTable bytes, threshold=$maxPack -> " +
        (if (sharded) "sharded cell cogroup" else "packed broadcast"))
      val perTable =
        if (sharded) (0 until tables).map(shardedOneTable)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(tables, 8))
          val packEc = scala.concurrent.ExecutionContext.fromExecutorService(pool)
          // the packs run on the pool; their join runs on the completing
          // thread, so a sibling finishing after a failure (and after
          // the pool's shutdown) is not rejected by the pool
          implicit val joinEc: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.parasitic
          try scala.concurrent.Await.result(
            scala.concurrent.Future.sequence((0 until tables).map(t =>
              scala.concurrent.Future(packOneTable(t))(packEc))),
            scala.concurrent.duration.Duration.Inf)
          finally {
            // hand the per-table packs to the CALLER thread's transient
            // registry (pack-pool threads die with the pool): the
            // consumer's next drain destroys them (see
            // trackTransientBroadcast). In a finally, so a throwing
            // pack leaves no sibling's broadcast to the GC; the pool is
            // joined first, so a sibling still packing when the first
            // failure surfaced has queued its broadcast before the drain.
            pool.shutdown()
            pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
            var b = packedBcs.poll()
            while (b != null) { Dedup.trackTransientBroadcast(b); b = packedBcs.poll() }
          }
        }
      heapTopK(perTable.reduce(_ unionByName _), k)
    } finally idx.unpersist(blocking = false)
  }

  /** The packed-cell row both [[lshMultiTopK]] evaluation paths
    * exchange: (sig, member ids, member offsets, concatenated member
    * vectors, member norms). */
  private type LshCellT =
    (Long, Array[Long], Array[Int], Array[Float], Array[Double])

  /** Sweep one packed neighbor cell against a home cell's members,
    * updating the per-member (cosine DESC, id ASC) insertion heaps in
    * place — the shared inner kernel of both [[lshMultiTopK]]
    * evaluation paths (broadcast and sharded), so the two are
    * bit-identical by construction. */
  private def sweepCell(
      nIds: Array[Long], nOffs: Array[Int], nFlat: Array[Float],
      nNrms: Array[Double],
      qIds: Array[Long], qOffs: Array[Int], qFlat: Array[Float],
      qNrms: Array[Double],
      kk: Int, hc: Array[Double], hi: Array[Long], hn: Array[Int]): Unit = {
    val nQ = qIds.length
    var j = 0
    while (j < nIds.length) {
      val nid = nIds(j)
      val nb = nOffs(j)
      val nLen = nOffs(j + 1) - nb
      val nn = nNrms(j)
      var qi = 0
      while (qi < nQ) {
        if (nid != qIds(qi)) {
          val qb = qOffs(qi)
          val n = math.min(qOffs(qi + 1) - qb, nLen)
          var s = 0.0d
          var d = 0
          while (d < n) {
            s += qFlat(qb + d).toDouble * nFlat(nb + d).toDouble
            d += 1
          }
          val denom = qNrms(qi) * nn
          val cosP =
            if (java.lang.Double.isNaN(denom)) Double.NegativeInfinity
            else s / denom
          val base = qi * kk
          val filled = hn(qi)
          // insert if better than the current k-th
          if (filled < kk || cosP > hc(base + filled - 1) ||
              (cosP == hc(base + filled - 1) && nid < hi(base + filled - 1))) {
            var p = if (filled < kk) filled else kk - 1
            while (p > 0 && (cosP > hc(base + p - 1) ||
                (cosP == hc(base + p - 1) && nid < hi(base + p - 1)))) {
              hc(base + p) = hc(base + p - 1); hi(base + p) = hi(base + p - 1)
              p -= 1
            }
            hc(base + p) = cosP; hi(base + p) = nid
            if (filled < kk) hn(qi) = filled + 1
          }
        }
        qi += 1
      }
      j += 1
    }
  }

  /** Drain the per-member heaps filled by [[sweepCell]] into
    * (query_id, neighbor_id, cosine) rows, restoring -∞ to NULL. */
  private def emitHeaps(qIds: Array[Long], hc: Array[Double],
      hi: Array[Long], hn: Array[Int],
      kk: Int): Iterator[(Long, Long, Option[Double])] =
    Iterator.range(0, qIds.length).flatMap { qi =>
      val base = qi * kk
      Iterator.range(0, hn(qi)).map { p =>
        (qIds(qi), hi(base + p),
          if (hc(base + p) == Double.NegativeInfinity) Option.empty[Double]
          else Some(hc(base + p)))
      }
    }

  /** Recall of the multi-table tier ([[lshRecall]]'s harness pointed
    * at [[lshMultiTopK]]) — prints what the OR-construction buys over
    * the measured single-table number. */
  def lshMultiRecall(spark: SparkSession, dir: String, qMod: Int = 50,
      k: Int = 3, nTables: Int = -1): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    val q = emb.filter(pmod($"vec_id", lit(qMod.toLong)) === 0L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"nrm".as("qnrm"))
    // same bounded-heap truth election as [[lshRecall]] — see the
    // note there; this is the harness whose 100x truth pass ran ~25
    // minutes through the window sort (r13 open item (b)).
    // same data-scaling q sample as [[lshRecall]] — size-gated (r14)
    val truth = heapTopK(
        emb.join(JoinGate.gatedBroadcast(q, "lsh_multi_recall.truth_q"),
            $"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            (VecFns.dot($"qv", $"embedding") / ($"qnrm" * $"nrm")).as("cosine")),
        k)
      .select($"query_id", $"neighbor_id")
    val got = lshMultiTopK(spark, dir, k, nTables)
      .filter(pmod($"query_id", lit(qMod.toLong)) === 0L)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    truth.join(got, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_found"))
      .select($"query_id", $"n_true", $"n_found",
        ($"n_found".cast(DoubleType) / $"n_true".cast(DoubleType)).as("recall"))
  }

  /** Pair-recall of [[Dedup.embed]]'s bucketed near-duplicate pair
    * set against the exact all-pairs ground truth at the same cosine
    * threshold (`dedup_embed_recall`) — the companion number to
    * [[lshRecall]]: how much of the true near-dup mass the
    * signature-bucket candidate tier actually surfaces. Ground truth
    * is O(N²) BY DEFINITION (it is the baseline the approximation is
    * measured against — the same deliberate posture as ann_brute);
    * at 100 TB this audit runs on a sampled slice, never the corpus. */
  def embedPairRecall(spark: SparkSession, dir: String,
      threshold: Double = 0.35d): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    val truth = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        (VecFns.dot($"a.embedding", $"b.embedding") / ($"a.nrm" * $"b.nrm")).as("cosine"))
      .filter($"cosine" >= threshold)
      .select($"vec_a", $"vec_b")
    val got = Dedup.embed(spark, dir)
      .select($"vec_a", $"vec_b", lit(1L).as("hit"))
    truth.join(got, Seq("vec_a", "vec_b"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        coalesce(sum($"hit"), lit(0L)).as("n_found_pairs"))
      .select($"n_true_pairs", $"n_found_pairs",
        (coalesce($"n_found_pairs".cast(DoubleType) / $"n_true_pairs".cast(DoubleType), lit(1.0d)))
          .as("recall"))
  }

  /** Corpus Gram (second-moment) matrix over int8-QUANTIZED
    * embeddings (`embed_gram`): G[i][j] = Σ_vec q_i·q_j for the
    * upper triangle — the input to PCA/whitening/covariance
    * condition checks over an embedding corpus.
    *
    * Quantization first ([[quantize]]'s exact floor(x·127/ma + ½)
    * recipe, per-vector scale) is what makes the corpus-wide
    * accumulation EXACT: integer products sum associatively, so the
    * result is independent of partitioning and row order — a raw
    * float32 Gram would differ between engines (and between RUNS)
    * by summation order. It is also the realistic 100 TB recipe:
    * int8 accumulators are how large-scale Gram/covariance passes
    * actually run.
    *
    * Shape: the d×(d+1)/2 cell products of one vector are emitted by
    * a scan-local nested `transform` + one `explode` (no self-join
    * of the exploded coordinates — that join would shuffle rows ∝
    * corpus×d), then a partial-aggregated groupBy(i,j) reduces them
    * map-side: exactly d×(d+1)/2 cells cross the wire PER INPUT
    * SPLIT regardless of corpus size. */
  def gram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ma materializes as a COLUMN before the quantize transform:
    // referencing the array_max expression inside the lambda would
    // re-evaluate it per ELEMENT (codegen CSE does not descend into
    // higher-order-function lambdas), turning a d-op scale pass into
    // d² with an array alloc per element
    val ma = array_max(transform($"embedding", x => abs(x.cast(DoubleType))))
    val q = when($"ma" > 0d,
      transform($"embedding",
        x => floor(x.cast(DoubleType) * lit(127.0d) / $"ma" + lit(0.5d)).cast(LongType)))
      .otherwise(transform($"embedding", _ => lit(0L)))
    // one custom-aggregate pass (plans/SketchExprs.VecOuterSum): the
    // d·(d+1)/2 cell sums accumulate in a primitive buffer per map
    // split and merge elementwise — the previous explode+groupBy
    // formulation materialized one struct per cell per vector
    // (corpus×2080 rows) before the hash aggregate, ~25x this cost
    Tables.embeddings(spark, dir)
      .select($"embedding", ma.as("ma"))
      .select(q.as("q"))
      .agg(graft.plans.Sketch.vecOuterSum($"q").as("cells"))
      .select(explode($"cells").as("c"))
      .select($"c.i".as("i"), $"c.j".as("j"),
        $"c.n".as("n_vecs"), $"c.p".as("gram_q"))
  }

  /** Principal-component projection over the embedding corpus
    * (`embed_pca`): every vector scored against the corpus' dominant
    * second-moment direction — the 1-D view a curation pipeline uses
    * for embedding-drift dashboards, coarse diversity binning, and
    * "is this corpus collapsing to one direction" checks.
    *
    * Engine-exact by construction, which is the interesting part —
    * float PCA is order-dependent three times over (Gram summation,
    * eigensolver, projection). Here every stage is integer:
    *   1. int8-quantize each vector ([[quantize]]'s exact recipe);
    *   2. the d×d Gram matrix accumulates in int64 via the same
    *      [[gram]] custom aggregate — one distributed pass, exactly
    *      d(d+1)/2 cells per input split cross the wire;
    *   3. TWO unnormalized power-iteration steps on the DRIVER over
    *      the collected d×d matrix (2080 longs — a reduction result,
    *      the codebook pattern): v₁ = G·1, v₂ = G·v₁ in BigInt, no
    *      normalization, so no division-rounding to disagree on;
    *   4. scores = q·v₂ distributed, in decimal(38,0) (v₂ grows to
    *      ~N·d²·127⁴ — past int64 at real corpus sizes), then ONE
    *      correctly-rounded cast to double — deterministic in any
    *      evaluation order on both engines.
    * Two unnormalized steps are a deliberate truncation (like
    * [[graft.operators.Telemetry]]'s dyadic EWMA): enough to
    * dominate toward PC1 for ranking/binning use, fully replayable
    * in ANSI SQL. The d×d collect is dimension-, not corpus-, sized.
    *
    * Scale shape: one Gram pass (partial-aggregated custom agg), one
    * scan-local projection pass with the d-vector broadcast as a
    * literal — shuffle cost is the Gram cells only, independent of
    * corpus row count. */
  def pca(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val d = 64
    val ma = array_max(transform($"embedding", x => abs(x.cast(DoubleType))))
    val qCol = when($"ma" > 0d,
      transform($"embedding",
        x => floor(x.cast(DoubleType) * lit(127.0d) / $"ma" + lit(0.5d)).cast(LongType)))
      .otherwise(transform($"embedding", _ => lit(0L)))
    val base = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding", ma.as("ma"))
      .select($"vec_id", $"label", qCol.as("q"))
    // dimension-sized reduction: d(d+1)/2 upper-triangle cells
    val cells = base
      .agg(graft.plans.Sketch.vecOuterSum($"q").as("cells"))
      .select(explode($"cells").as("c"))
      .select($"c.i", $"c.j", $"c.p").collect()
    val g = Array.ofDim[Long](d, d)
    cells.foreach { r =>
      val (i, j, p) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2))
      g(i)(j) = p; g(j)(i) = p
    }
    // two power steps in BigInt: v1 = G·1, v2 = G·v1 — unnormalized,
    // so there is no division for the two engines to round apart
    val v1 = Array.tabulate(d)(i => g(i).foldLeft(BigInt(0))(_ + _))
    val v2 = Array.tabulate(d)(i =>
      (0 until d).foldLeft(BigInt(0))((acc, j) => acc + BigInt(g(i)(j)) * v1(j)))
    val v2Lit = array(v2.map(x =>
      lit(new java.math.BigDecimal(x.bigInteger)).cast(DecimalType(38, 0))): _*)
    // scan-local projection: q·v2 in decimal(38,0), one final cast
    base
      .select($"vec_id", $"label",
        aggregate(
          zip_with($"q", v2Lit, (a, b) => a * b),
          lit(0).cast(DecimalType(38, 0)),
          (acc, x) => acc + x).cast(DoubleType).as("pc1"))
  }

  /** Embedding-distribution drift monitor (`embed_drift`) — the
    * pipeline-health check every continuously-ingesting embedding
    * store needs: vectors arrive in ingest batches (batch = vec_id div
    * batchSize — the id ranges ARE the arrival order in this corpus),
    * and a shift in the batch centroid direction flags an upstream
    * model or corpus change before it poisons ANN indexes trained on
    * earlier data.
    *
    * Integer-exact throughout (the engine's float-determinism
    * discipline): vectors quantize to int8 with the shared per-vector
    * scale rule, per-(batch, dim) sums aggregate as longs, and the
    * consecutive-batch cosine is assembled from exact integer
    * dot/norms with one final double division + sqrt — the same IEEE
    * ops in both engines, so the result is bit-identical to the
    * oracle.
    *
    * Scale posture: posexplode feeds a partial-aggregating groupBy, so
    * the exchange carries batches×64 summed cells, not corpus×64
    * element rows; the consecutive-pair join and the batch-size join
    * both run over that batches×64 reduction (broadcast for the
    * counts). Nothing downstream of the first aggregation ever touches
    * a raw vector. At 100 TB the per-dim sums overflow long only past
    * ~7e16 per cell (127 × 5.7e14 rows/batch) — re-declare `s` as
    * decimal(38,0) at that point; the shape is unchanged. */
  def drift(spark: SparkSession, dir: String, batchSize: Long = 100L): DataFrame = {
    import spark.implicits._
    val ma = array_max(transform($"embedding", x => abs(x.cast(DoubleType))))
    val qCol = when($"ma" > 0d,
      transform($"embedding",
        x => floor(x.cast(DoubleType) * lit(127.0d) / $"ma" + lit(0.5d)).cast(LongType)))
      .otherwise(transform($"embedding", _ => lit(0L)))
    val base = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", ma.as("ma"))
      .select(expr(s"vec_id DIV $batchSize").as("batch"), qCol.as("q"))
    // one corpus scan: the per-(batch, dim) count is the batch size,
    // so the counts ride the same aggregation instead of a second pass
    val sums = base
      .select($"batch", posexplode($"q").as(Seq("dim", "qv")))
      .groupBy($"batch", $"dim").agg(sum($"qv").as("s"), count(lit(1)).as("n"))
      .localCheckpoint()
    val counts = sums.filter($"dim" === 0).select($"batch", $"n")
    val pair = sums.as("a")
      .join(sums.as("b"), $"a.batch" + 1L === $"b.batch" && $"a.dim" === $"b.dim")
      .groupBy($"a.batch".as("batch_a"), $"b.batch".as("batch_b"))
      .agg(sum($"a.s" * $"b.s").as("dot"),
        sum($"a.s" * $"a.s").as("norm_a"),
        sum($"b.s" * $"b.s").as("norm_b"))
    pair
      .join(broadcast(counts.select($"batch".as("batch_a"), $"n".as("n_a"))), "batch_a")
      .join(broadcast(counts.select($"batch".as("batch_b"), $"n".as("n_b"))), "batch_b")
      .select($"batch_a", $"batch_b", $"n_a", $"n_b",
        $"dot", $"norm_a", $"norm_b",
        when($"norm_a" > 0L && $"norm_b" > 0L,
          $"dot".cast(DoubleType) /
            sqrt($"norm_a".cast(DoubleType) * $"norm_b".cast(DoubleType)))
          .otherwise(lit(0.0d)).as("cosine"))
  }

  /** Per-vector centroid-distance outlier flags (`embed_outliers`) —
    * the vector-level quality gate beside [[drift]]'s batch-level
    * monitor: a vector far from its ingest batch's centroid is a
    * mis-embedded / corrupted / off-distribution candidate to hold out
    * of ANN index builds. Everything stays in exact integers by
    * cross-multiplying the rationals away: squared distance to the
    * centroid c = s/n is Σ(n·qᵢ − sᵢ)² / n² — we carry the numerator
    * (`n2d2`), and "dist² > 4 × batch mean dist²" becomes
    * n2d2·n > 4·Σn2d2, an integer comparison with no division for the
    * engines to round apart.
    *
    * Scale posture: the batch statistics (per-dim sums + counts) are a
    * batches×64 reduction broadcast back onto the corpus scan — the
    * per-vector pass is scan-local arithmetic against the broadcast
    * array, then one partial-aggregated groupBy for the batch totals
    * and a second broadcast join for the flag. Raw vectors cross no
    * exchange at any point. */
  def outliers(spark: SparkSession, dir: String, batchSize: Long = 100L): DataFrame = {
    import spark.implicits._
    val ma = array_max(transform($"embedding", x => abs(x.cast(DoubleType))))
    val qCol = when($"ma" > 0d,
      transform($"embedding",
        x => floor(x.cast(DoubleType) * lit(127.0d) / $"ma" + lit(0.5d)).cast(LongType)))
      .otherwise(transform($"embedding", _ => lit(0L)))
    val base = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", ma.as("ma"))
      .select($"vec_id", expr(s"vec_id DIV $batchSize").as("batch"), qCol.as("q"))
    // stats in ONE corpus pass: the per-(batch, dim) count IS the
    // batch size, so n rides the cell aggregation instead of a
    // second scan + join
    val stats = base
      .select($"batch", posexplode($"q").as(Seq("dim", "qv")))
      .groupBy($"batch", $"dim").agg(sum($"qv").as("s"), count(lit(1)).as("cnt"))
      .groupBy($"batch")
      .agg(transform(array_sort(collect_list(struct($"dim", $"s"))),
        c => c.getField("s")).as("sarr"),
        max($"cnt").as("n"))
    val perVec = base.join(broadcast(stats), "batch")
      .select($"vec_id", $"batch",
        aggregate(
          zip_with($"q", $"sarr", (qi, si) => ($"n" * qi - si) * ($"n" * qi - si)),
          lit(0L), _ + _).as("n2d2"))
    val totals = perVec.groupBy($"batch")
      .agg(sum($"n2d2").as("sum_n2d2"), count(lit(1)).as("nb"))
    perVec.join(broadcast(totals), "batch")
      .select($"vec_id", $"batch", $"n2d2",
        ($"n2d2" * $"nb" > $"sum_n2d2" * 4L).as("is_outlier"))
  }

  /** Dimension-truncation eval (`embed_truncate_eval`): recall@k of
    * brute-force search on the first `dims` dimensions against the
    * full-dimension ground truth — the Matryoshka/MRL question every
    * embedding deployment asks ("can I serve at 16 of 64 dims?"),
    * because a truncated index is a dims/64 cut of RAM, IO, and
    * compute for ALL downstream ANN. Both top-k elections are
    * deterministic ((cosine DESC, id ASC)), so the recall is exact.
    *
    * Shape: truncation is a scan-local slice; both searches are the
    * ann_brute broadcast-query plan; the harness join is
    * (queries × k)-sized. */
  def truncateEval(spark: SparkSession, dir: String, dims: Int = 16,
      nQueries: Int = 10, k: Int = 5): DataFrame = {
    import spark.implicits._
    val truth = bruteTopK(spark, dir, nQueries, k)
      .select($"query_id", $"neighbor_id")
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", slice($"embedding", 1, dims).as("tv"))
      .select($"vec_id", $"tv", VecFns.norm($"tv").as("nrm"))
    val q = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"tv".as("qv"), $"nrm".as("qnrm"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    val trunc = emb.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        (VecFns.dot($"qv", $"tv") / ($"qnrm" * $"nrm")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    truth.join(trunc, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_found"))
      .select($"query_id", $"n_true", $"n_found",
        ($"n_found".cast(DoubleType) / $"n_true".cast(DoubleType)).as("recall"))
  }

  /** ANN recall harness (`ann_recall`): recall@k of the IVF search
    * against the exact brute-force ground truth on the SAME query
    * set — the one number that decides whether an approximate index
    * is shippable, and the standard eval every ANN deployment runs
    * before swapping brute for approximate. Per query: hits among
    * the true top-k and recall = hits/k; ties inside both top-k
    * elections are already deterministic ((cosine DESC, id ASC)), so
    * the metric is exact, not expectation.
    *
    * Shape: both searches are their own audited plans; the harness
    * adds one broadcast-sized left join (query × k rows per side)
    * and a partial-aggregated rollup — evaluation cost is
    * independent of the corpus. */
  def annRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val truth = bruteTopK(spark, dir, k = k)
      .select($"query_id", $"neighbor_id")
    val got = ivfTopK(spark, dir, k = k)
      .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
    truth.join(got, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce($"hit", lit(0L))).as("n_found"))
      .select($"query_id", $"n_true", $"n_found",
        ($"n_found".cast(DoubleType) / $"n_true".cast(DoubleType)).as("recall"))
  }

  /** Cluster-bounded k-NN graph (`ann_knn_graph`): for a
    * deterministic query sample (vec_id ≡ 0 mod qMod), its k nearest
    * neighbors WITHIN its IVF inverted list — the batch artifact
    * semantic-dedup, diversity sampling, and label propagation all
    * start from. Unlike [[ivfTopK]]'s online search (few queries,
    * probe set broadcast), the query side here is corpus-
    * proportional, so the plan co-partitions BOTH sides on the
    * centroid id — one equi-join, no broadcast of anything
    * corpus-sized — and the per-query election is the TopKPairs
    * bounded-heap aggregate: at most k (neighbor, cosine) pairs per
    * buffer cross the final shuffle, where the ROW_NUMBER
    * formulation would sort every candidate pair. Candidate volume is
    * Σ|list|·|queries in list| — bounded by the coarse quantizer's
    * balance, the documented IVF contract ([[embedProfile]] is the
    * pre-flight check).
    *
    * Evaluation (r13 continuation — the packed-cell lesson from
    * [[lshMultiTopK]] applied to the one IVF consumer with a
    * corpus-proportional query side): the old spelling self-joined
    * queries×index on cid and shipped every candidate row with TWO
    * embedding arrays through the shuffle (~3 GB at the 100x census —
    * the measured reason the N/300 cell rule exists). But the
    * evaluation is purely WITHIN-cell, so no broadcast and no
    * checkpoint are needed at all: one groupByKey(cid) shuffles the
    * index once (N rows, one embedding each), and each inverted list
    * packs into flat primitive arrays and sweeps its own query subset
    * through the shared [[sweepCell]] kernel — the same fold-exact
    * arithmetic and (cosine DESC, id ASC) election as the TopKPairs
    * spelling it replaces, bit-identically. A degenerate quantizer
    * cell buffers in one task either way (the old join exploded
    * |list|·|queries| rows instead); embedProfile remains the
    * pre-flight. */
  def knnGraph(spark: SparkSession, dir: String, qMod: Int = 10, k: Int = 5,
      nCentroids: Int = -1): DataFrame = {
    import spark.implicits._
    // adaptive coarse-quantizer width (r11, the 100x census): this is
    // the one IVF consumer whose QUERY side is corpus-proportional,
    // so fixed 16 cells make candidate volume (N/16)·(N/qMod) —
    // quadratic; cells sized to ~300 members keep it N·300/qMod,
    // linear. The constant is MEASURED, not the FLOP-balance
    // √(N/qMod): candidate rows carry two embedding arrays through
    // the shuffle, so scan bytes dominate the assign pass's dots and
    // the practical optimum sits at far finer cells — the r12 100x
    // sweep (200k vectors, ProbeKnn) measured nc 160/320/640/1280/
    // 2560 → 1101/548/214/299/596 s, knee at ~640 ≈ N/300 (the r11
    // N/1250 rule ran 888-1100 s against a 900 s watchdog — zero
    // margin). The oracle computes the same integer predicate
    // (GREATEST(16, n // 300)); every test SF stays at 16, unchanged
    // (floor binds through sf0.1's 2000 vectors). At 10^9 vectors
    // the ~3.3M-centroid broadcast is the point where a real
    // deployment goes hierarchical — documented, not hidden.
    val nc =
      if (nCentroids > 0) nCentroids
      else math.max(16, (corpusN(spark, dir) / 300L).toInt)
    // zero-norm vectors are EXCLUDED from the graph build (their
    // cosine is NULL to every neighbor — the bounded-heap election
    // skips null scores while a ROW_NUMBER formulation would seat
    // them, so the two shapes diverge unless directionless vectors
    // leave the index up front; mirrored by the oracle's dot > 0)
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
      .filter($"nrm".isNotNull)
    // scan-local assignment via the native TopCentroids pass — the
    // crossJoin+window spelling scored N·nc rows through a per-vector
    // sort (~128M at the 100x census with the N/300 rule)
    val index = assignTop(emb, codebookOf(emb, nc), 1)
      .select($"cid", $"vec_id", $"embedding", $"nrm")
    val qm = qMod.toLong
    val kk = k
    index.as[(Long, Long, Array[Float], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val ms = it.toArray
        val n = ms.length
        val ids = new Array[Long](n)
        val nrms = new Array[Double](n)
        val offs = new Array[Int](n + 1)
        var m = 0
        var nQ = 0
        while (m < n) {
          ids(m) = ms(m)._2
          nrms(m) = ms(m)._4
          offs(m + 1) = offs(m) + ms(m)._3.length
          if (ms(m)._2 % qm == 0L) nQ += 1
          m += 1
        }
        val flat = new Array[Float](offs(n))
        m = 0
        while (m < n) {
          System.arraycopy(ms(m)._3, 0, flat, offs(m), ms(m)._3.length)
          m += 1
        }
        // the query subset copies its vectors contiguous so the
        // shared sweep kernel's (ids, offs, flat, nrms) shape applies
        val qIds = new Array[Long](nQ)
        val qNrms = new Array[Double](nQ)
        val qOffs = new Array[Int](nQ + 1)
        val hc = new Array[Double](nQ * kk)
        val hi = new Array[Long](nQ * kk)
        val hn = new Array[Int](nQ)
        var qi = 0
        m = 0
        while (m < n) {
          if (ids(m) % qm == 0L) {
            qIds(qi) = ids(m)
            qNrms(qi) = nrms(m)
            qOffs(qi + 1) = qOffs(qi) + (offs(m + 1) - offs(m))
            qi += 1
          }
          m += 1
        }
        val qFlat = new Array[Float](qOffs(nQ))
        qi = 0
        m = 0
        while (m < n) {
          if (ids(m) % qm == 0L) {
            System.arraycopy(flat, offs(m), qFlat, qOffs(qi),
              offs(m + 1) - offs(m))
            qi += 1
          }
          m += 1
        }
        sweepCell(ids, offs, flat, nrms, qIds, qOffs, qFlat, qNrms,
          kk, hc, hi, hn)
        Iterator.range(0, nQ).flatMap { q =>
          val base = q * kk
          Iterator.range(0, hn(q)).map { p =>
            (qIds(q), hi(base + p), hc(base + p), (p + 1).toLong)
          }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine", "rnk")
  }

  /** IVF index balance audit (`ann_index_stats`) — the pre-flight a
    * serving deployment runs on its inverted lists: per centroid
    * list, member count, load share vs the corpus, and the
    * assignment-quality mass (how well members fit their centroid).
    * An imbalanced index (a hot list holding a big corpus fraction)
    * makes every probe of that list pay the imbalance — the signal
    * that the codebook needs re-training (embed_kmeans) or the
    * probe count needs raising.
    *
    * Engine-exactness: per-member centroid cosines are fold-exact
    * doubles, but SUMMING doubles is aggregation-order-dependent —
    * so the quality mass accumulates as Σ floor(cos·10⁶) exact longs
    * (the embed_profile discipline), min/max ride the same integer
    * unit, and the only double emitted is the load share (one
    * division). The `hot` verdict is an integer cross-multiplication
    * (n·K > 2N ⟺ load > 2× uniform) that can never round apart.
    *
    * Scale: one broadcast-codebook assignment pass (the ivfTopK
    * plan), then a partial-aggregated rollup to K rows; the share
    * window runs over the K-row aggregate. */
  def annIndexStats(spark: SparkSession, dir: String,
      nCentroids: Int = 16): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", VecFns.norm($"embedding").as("nrm"))
    val cents = emb.filter($"vec_id" < nCentroids)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"), $"nrm".as("cnrm"))
    val scored = emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"cid",
        (VecFns.dot($"embedding", $"cvec") / ($"nrm" * $"cnrm")).as("ccos"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid".asc)
    val assigned = scored.withColumn("rn", row_number().over(wAssign)).filter($"rn" === 1)
      .select($"cid", floor($"ccos" * lit(1000000.0d)).cast(LongType).as("cos_micro"))
    annIndexStatsAssembly(
      assigned.groupBy($"cid")
        .agg(count(lit(1)).as("n_vectors"),
          sum($"cos_micro").as("sum_cos_micro"),
          min($"cos_micro").as("min_cos_micro"),
          max($"cos_micro").as("max_cos_micro")),
      nCentroids)
  }

  /** The post-census assembly of [[annIndexStats]], shared with the
    * streaming twin (StreamAnnIngest): share + hot verdict over the
    * K-row list census. */
  def annIndexStatsAssembly(cells: DataFrame, nCentroids: Int): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    cells
      .withColumn("n_total", sum($"n_vectors").over(
        Window.partitionBy()).cast(LongType))
      .select($"cid", $"n_vectors", $"sum_cos_micro", $"min_cos_micro",
        $"max_cos_micro", $"n_total",
        ($"n_vectors".cast(DoubleType) / $"n_total".cast(DoubleType)).as("load_share"),
        ($"n_vectors" * lit(nCentroids.toLong) > $"n_total" * lit(2L)).as("hot"))
  }
}
