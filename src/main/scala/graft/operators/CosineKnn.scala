package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (Array[Float]).
  *
  * Two paths:
  *  - `bruteForceTopK`: exact top-k cosine for a (small, broadcast) set
  *    of query vectors — one pass over the corpus, per-query top-k via
  *    window. This is the 100 TB baseline when |queries| is small: the
  *    corpus is never shuffled, only scanned.
  *  - `lshTopK`: sign-LSH (random-hyperplane) bucketed ANN — corpus is
  *    hashed once into 2^planes buckets; each query probes its own
  *    bucket plus all Hamming-1 neighbors and reranks exactly within
  *    candidates. Approximate (no oracle); recall is asserted in tests.
  *
  * All arithmetic is double-precision with a fixed left-to-right fold,
  * so the DuckDB oracle (list_inner_product on DOUBLE[]) matches
  * bit-for-bit; ranking uses the ROUNDED similarity + id so order is
  * engine-independent.
  */
object CosineKnn {

  private def asDouble(c: String) = expr(s"transform($c, x -> cast(x AS DOUBLE))")
  // codegen'd dot with semantics identical to the old
  // aggregate(zip_with(...)) interpreted-HOF spelling (bit-identical
  // left-to-right fold; see graft.functions.VecDot — r16). Callers must
  // run reg() first so the session resolves vecDot.
  private def dot(a: String, b: String) = expr(s"vecDot($a, $b)")
  private def reg(df: DataFrame): Unit =
    graft.dialect.ChFunctions.register(df.sparkSession)

  /** (qid, nid, sim, rn): top-k neighbors by cosine for each query row.
    * `queries` must be small enough to broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    reg(corpus)
    val c = corpus.select(col(idCol).as("nid"), asDouble(vecCol).as("nv"))
      .withColumn("nn", sqrt(dot("nv", "nv")))
    val q = queries.select(col(idCol).as("qid"), asDouble(vecCol).as("qv"))
      .withColumn("qn", sqrt(dot("qv", "qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim", round(dot("qv", "nv") / (col("qn") * col("nn")), 6))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rn"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived uniform in [-0.5, 0.5). */
  private def planesLit(nPlanes: Int, dim: Int) = {
    val comps = (0 until nPlanes).map { p =>
      (0 until dim).map { j =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"plane:$p:dim:$j".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
      }
    }
    typedlit(comps.map(_.toArray).toArray)
  }

  /** Sign-LSH bucket id (0 until 2^nPlanes) for each vector. The
    * per-plane dot is the codegen'd vecDot (r16) — the outer fold over
    * nPlanes scalars stays a (cheap) HOF; the O(dim) inner loops no
    * longer allocate boxed arrays per plane. */
  private def withBucket(df: DataFrame, vecCol: String,
                         nPlanes: Int, dim: Int): DataFrame =
    df.withColumn("planes", planesLit(nPlanes, dim))
      .withColumn("bucket", expr(
        s"""aggregate(sequence(0, $nPlanes - 1), 0,
              (acc, p) -> acc + CASE WHEN
                vecDot($vecCol, element_at(planes, p + 1)) > 0
              THEN shiftleft(1, p) ELSE 0 END)"""))
      .drop("planes")

  /** Rows a block-pair task takes from each side: the quadratic work
    * of one task is bounded by its square. */
  private val BlockRows = 512

  /** Blocks for `rows` rows: [[BlockRows]] rows a block, at least one. */
  private def blocksFor(rows: Long): Int =
    math.max(1L, (rows + BlockRows - 1) / BlockRows).toInt

  /** Embedding near-duplicate pairs: all (a < b) with cosine >= the
    * threshold. Exact — cosine thresholds admit no lossless bucketing
    * (unlike SimHash/prefix filtering), so O(n²) COMPUTE is inherent;
    * what is NOT inherent is the naive `a < b` theta self-join's plan
    * (BroadcastNestedLoopJoin: whole corpus broadcast, driver/executor
    * OOM at scale). This formulation distributes the quadratic work as
    * an EQUI-join on block pairs: rows are hashed into `blocks`
    * id-blocks; every unordered row pair meets in exactly one of the
    * B(B+1)/2 (i<=j) block-pair tasks, each a bounded
    * block-size×block-size cartesian. Replication factor ~B/2 on the
    * shuffle; per-task memory is one block, tunable independently of
    * corpus size. `blocks = 0` derives the count from the corpus rows
    * ([[blocksFor]]). Ranking/filter uses the ROUNDED similarity so
    * results are engine-independent. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, blocks: Int = 0): DataFrame = {
    reg(corpus)
    // normalized unit vectors, materialized ONCE per call (r16: the
    // frame feeds both join sides AND the exact re-verify — it used to
    // recompute per reference; eager localCheckpoint, never persist)
    val unit = corpus.select(col(idCol).as("id"), asDouble(vecCol).as("v"))
      .withColumn("n", sqrt(dot("v", "v")))
      .select(col("id"), expr("transform(v, x -> x / n)").as("u"))
      .localCheckpoint(true)
    val nBlocks = if (blocks > 0) blocks else blocksFor(unit.count())
    val u = unit.withColumn("blk", pmod(xxhash64(col("id")), lit(nBlocks)).cast("int"))
    // r16 two-phase scan (guide §8 "decide with small rows, move big
    // rows once"): the O(n²) block-pair SCORING pass carries float32
    // copies of the unit vectors — every join output row copies both
    // sides, so halving the vector bytes halves the dominant cost. The
    // float score is a PRUNE only: products/sums carry double
    // precision, so |approx − exact| ≤ Σ|x||y|·2^-23 ≤ 1.2e-7 for unit
    // vectors, and pruning at threshold − 1e-3 (≈8000× that bound, and
    // wider than the round(,6) boundary slack) can never drop a true
    // pair. Survivors — a tiny set — re-fetch the exact doubles by id
    // and recompute the EXACT rounded similarity, so emitted rows are
    // bit-identical to the single-phase plan.
    val uf = u.select(col("id"), col("blk"),
      expr("transform(u, x -> cast(x AS FLOAT))").as("f"))
    // a row in block k is the LEFT side of tasks (k, j>=k) and the
    // RIGHT side of tasks (i<=k, k)
    val lhs = uf.withColumn("pj", explode(expr(s"sequence(blk, ${nBlocks - 1})")))
      .select(col("id").as("ia"), col("f").as("fa"),
        col("blk").as("pi"), col("pj"))
    val rhs = uf.withColumn("pi", explode(expr("sequence(0, blk)")))
      .select(col("id").as("ib"), col("f").as("fb"),
        col("pi"), col("blk").as("pj"))
    val cands = lhs.join(rhs, Seq("pi", "pj"))
      // same-block pairs meet twice (both orders): keep one; cross-block
      // pairs meet exactly once in whichever order the blocks fell
      .filter(col("pi") =!= col("pj") || col("ia") < col("ib"))
      .filter(col("ia") =!= col("ib"))
      .filter(expr("vecDot(fa, fb)") >= threshold - 1e-3)
      .select(col("ia"), col("ib"))
    val sets = u.select(col("id"), col("u"))
    cands
      .join(sets.select(col("id").as("ia"), col("u").as("ua")), "ia")
      .join(sets.select(col("id").as("ib"), col("u").as("ub")), "ib")
      .withColumn("sim", round(dot("ua", "ub"), 6))
      .filter(col("sim") >= threshold)
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("sim"))
  }

  /** Exact top-k cosine when the query side is too large to broadcast —
    * the large-|Q| companion of [[bruteForceTopK]] (r7 VERDICT's one
    * open design item). The full |Q|×|C| compute is inherent for an
    * exact answer; the plan distributes it as an EQUI-join on
    * (corpus-block, query-block): corpus rows replicate `queryBlocks`
    * times, query rows `corpusBlocks` times, every (q, c) pair meets in
    * exactly one of the Bc×Bq bounded tasks — no broadcast, no
    * BroadcastNestedLoopJoin, no CartesianProduct (OperatorsSpec
    * asserts the plan).
    *
    * The per-query reduction happens in two stages: a window over
    * (ci, qj, qid) runs WITHOUT an extra exchange (the join's hash
    * partitioning on (ci, qj) already clusters it) and keeps k rows per
    * corpus-block, so only |Q|·Bc·k candidate rows shuffle into the
    * final per-qid top-k — not the |Q|×|C| scored product. */
  def blockTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, corpusBlocks: Int = 0,
                queryBlocks: Int = 0): DataFrame = {
    reg(corpus)
    // 0 derives a side's block count from its rows (blocksFor)
    val cBlocks = if (corpusBlocks > 0) corpusBlocks else blocksFor(corpus.count())
    val qBlocks = if (queryBlocks > 0) queryBlocks else blocksFor(queries.count())
    val c = corpus.select(col(idCol).as("nid"), asDouble(vecCol).as("nv"))
      .withColumn("nn", sqrt(dot("nv", "nv")))
      .withColumn("ci", pmod(xxhash64(col("nid")), lit(cBlocks)).cast("int"))
      .withColumn("qj", explode(expr(s"sequence(0, ${qBlocks - 1})")))
    val q = queries.select(col(idCol).as("qid"), asDouble(vecCol).as("qv"))
      .withColumn("qn", sqrt(dot("qv", "qv")))
      .withColumn("qj", pmod(xxhash64(col("qid")), lit(qBlocks)).cast("int"))
      .withColumn("ci", explode(expr(s"sequence(0, ${cBlocks - 1})")))
    val scored = c.join(q, Seq("ci", "qj"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim", round(dot("qv", "nv") / (col("qn") * col("nn")), 6))
    val localTopK = scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("ci"), col("qj"), col("qid"))
          .orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rn") <= k).drop("rn")
    localTopK.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rn"))
  }

  /** Approximate near-dup pairs for realistic high thresholds — the
    * 100 TB path when O(n²) compute is off the table. Candidates are
    * generated by `nTables` independent sign-LSH tables of `nPlanes`
    * hyperplanes each (a pair is a candidate iff it collides in ANY
    * table — an equi-join on (table, bucket)); candidates are reranked
    * with the exact unit-vector dot so every emitted pair is exact.
    * Recall is probabilistic: at cosine >= 0.9 (angle <= 26°) per-plane
    * agreement is >= 0.86, so 4 tables × 8 planes miss a true pair with
    * p < 1% — asserted vs brute force in OperatorsSpec. Use
    * [[nearDupPairs]] when exactness is required and the corpus is
    * bounded. */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nPlanes: Int = 8, nTables: Int = 4,
                      dim0: Int = 0): DataFrame = {
    reg(corpus)
    // dim0=0 derives the dimension from the data: a mismatched constant
    // silently NULLs every plane dot (zip_with pads), collapsing all
    // vectors into bucket 0 — LSH degenerating to a full cross join
    val dim = if (dim0 > 0) dim0
      else corpus.select(size(asDouble(vecCol))).head.getInt(0)
    // normalized vectors materialized ONCE (bucket pipeline + both
    // rerank re-fetches; eager localCheckpoint, never a bare persist)
    val u = corpus.select(col(idCol).as("id"), asDouble(vecCol).as("v"))
      .withColumn("n", sqrt(dot("v", "v")))
      .select(col("id"), expr("transform(v, x -> x / n)").as("u"))
      .localCheckpoint(true)
    // r16 restructure (guide §8 "decide with small rows"): the bucket
    // index carries ONLY (id, t, bucket) — the old shape shipped both
    // sides' double vectors through the (t, bucket) self-join AND the
    // candidate dedup shuffle (~1 KB per candidate row). Candidates
    // dedup as bare id pairs; the exact rerank re-fetches vectors by
    // id once per DISTINCT pair. Per-plane dots codegen'd (vecDot);
    // h checkpointed because the self-join references it twice and no
    // AQE stage reuse fires in this codebase.
    val h = u.withColumn("planes", planesLit(nPlanes * nTables, dim))
      .withColumn("t", explode(expr(s"sequence(0, ${nTables - 1})")))
      .withColumn("bucket", expr(
        s"""aggregate(sequence(0, ${nPlanes - 1}), 0,
              (acc, p) -> acc + CASE WHEN
                vecDot(u, element_at(planes, t * $nPlanes + p + 1)) > 0
              THEN shiftleft(1, p) ELSE 0 END)"""))
      .select(col("id"), col("t"), col("bucket"))
      .localCheckpoint(true)
    val cands = h.select(col("id").as("a"), col("t"), col("bucket"))
      .join(h.select(col("id").as("b"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("a") < col("b"))
      .dropDuplicates("a", "b") // collided in >1 table
    cands
      .join(u.select(col("id").as("a"), col("u").as("ua")), "a")
      .join(u.select(col("id").as("b"), col("u").as("ub")), "b")
      .withColumn("sim", round(dot("ua", "ub"), 6))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
  }

  /** Reference formulation of [[nearDupPairs]] — the naive `a < b`
    * theta self-join. Used by specs as the in-engine oracle; do not use
    * at scale (BroadcastNestedLoopJoin). */
  def nearDupPairsBruteForce(corpus: DataFrame, idCol: String,
                             vecCol: String, threshold: Double): DataFrame = {
    reg(corpus)
    val u = corpus.select(col(idCol).as("id"), asDouble(vecCol).as("v"))
      .withColumn("n", sqrt(dot("v", "v")))
      .select(col("id"), expr("transform(v, x -> x / n)").as("u"))
    u.select(col("id").as("a"), col("u").as("ua"))
      .join(u.select(col("id").as("b"), col("u").as("ub")), col("a") < col("b"))
      .withColumn("sim", round(dot("ua", "ub"), 6))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
  }

  /** IVF-style ANN: a KMeans coarse quantizer partitions the corpus
    * into nLists inverted lists; each query probes the nProbe nearest
    * centroids and reranks exactly within those lists. The 100 TB
    * shape: centroids are tiny (broadcast), the corpus is scanned once
    * to assign lists and thereafter only probed lists are read —
    * with a list-partitioned layout that's partition pruning.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nLists: Int = 16,
              nProbe: Int = 6): DataFrame = {
    reg(corpus)
    // localCheckpoint, not persist: consumed eagerly by the sample
    // collection AND lazily by the returned plan; a leaked cache entry
    // would serve later identical plans from memory (see
    // MinHashLsh.nearDupPairs)
    val c = corpus.select(col(idCol).as("nid"), asDouble(vecCol).as("nv"))
      .localCheckpoint(true)
    // r16: coarse quantizer trained like pqTopK's codebooks — a
    // driver-side deterministic k-means++ over a BOUNDED sample (one
    // TakeOrderedAndProject) instead of a Spark-ML KMeans.fit's ~10
    // iteration jobs; list assignment is a codegen'd argmin over the
    // centroid literal (|c|^2 - 2 x·c ranking — same argmin as L2,
    // evaluated with vecDot) instead of an ML-transform UDF pass.
    // The ANN output changes only through quantizer quality; l11's
    // declared output is the recall gate, re-verified >= 0.6 at all
    // three SFs with margin (see OperatorsSpec recall test).
    val sample = c.select(col("nid"), col("nv"))
      .orderBy(xxhash64(col("nid")), col("nid")).limit(4096)
      .collect().map(_.getSeq[Double](1).toArray)
    val centersArr = kmeansPP(sample, nLists, iters = 10, seed = 42L)
    val centerNorms = centersArr.map(cv => cv.map(x => x * x).sum)
    val centers = typedlit(centersArr)
    val lists = c
      .withColumn("__c", centers)
      .withColumn("__cn", typedlit(centerNorms))
      .withColumn("list", expr(
        s"""element_at(array_sort(
              transform(sequence(0, ${nLists - 1}), i -> struct(
                element_at(__cn, i + 1) - 2 * vecDot(nv, element_at(__c, i + 1)) AS d,
                i AS idx))), 1).idx"""))
      .select(col("nid"), col("nv"), col("list"))
      .withColumn("nn", sqrt(dot("nv", "nv")))
    val q = queries.select(col(idCol).as("qid"), asDouble(vecCol).as("qv"))
      .withColumn("qn", sqrt(dot("qv", "qv")))
      .withColumn("__centers", centers)
      // nProbe nearest centroids by squared L2 (struct sort on dist)
      .withColumn("probe", explode(expr(
        s"""transform(slice(array_sort(
              transform(sequence(0, $nLists - 1), i -> struct(
                aggregate(zip_with(qv, element_at(__centers, i + 1),
                  (x, y) -> (x - y) * (x - y)), cast(0 AS DOUBLE), (a, x) -> a + x) AS d,
                i AS idx))), 1, $nProbe), s -> s.idx)""")))
      .drop("__centers")
    val scored = lists.join(broadcast(q), col("list") === col("probe"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim", round(dot("qv", "nv") / (col("qn") * col("nn")), 6))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rn"))
  }

  /** ANN top-k: bucket + multiprobe (all buckets within Hamming
    * distance `probeDist` of the query's bucket), exact rerank within
    * candidates. probeDist=2 with 4 planes probes 11/16 buckets — on
    * uniformly random vectors (the fixture: max cosine ~0.5, i.e. no
    * cluster structure, LSH's worst case) that yields ~0.84 recall@5;
    * real embedding corpora cluster, so fewer probes / more planes do
    * better. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int = 4,
              dim0: Int = 0, probeDist: Int = 2): DataFrame = {
    reg(corpus)
    // dim0=0 derives from the data — see lshNearDupPairs
    val dim = if (dim0 > 0) dim0
      else corpus.select(size(asDouble(vecCol))).head.getInt(0)
    val c = withBucket(
      corpus.select(col(idCol).as("nid"), asDouble(vecCol).as("nv")),
      "nv", nPlanes, dim).withColumn("nn", sqrt(dot("nv", "nv")))
    val q = withBucket(
      queries.select(col(idCol).as("qid"), asDouble(vecCol).as("qv")),
      "qv", nPlanes, dim).withColumn("qn", sqrt(dot("qv", "qv")))
      .withColumnRenamed("bucket", "qbucket")
      // multiprobe: every bucket within probeDist bit flips
      .withColumn("probe", explode(expr(
        s"""filter(sequence(0, ${(1 << nPlanes) - 1}),
               b -> bit_count(int(b) ^ qbucket) <= $probeDist)""")))
      .drop("qbucket")
    val scored = c.join(broadcast(q), col("bucket") === col("probe"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim", round(dot("qv", "nv") / (col("qn") * col("nn")), 6))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rn"))
  }

  /** Product-quantization ANN: the memory-compressed scale path. The
    * vector splits into `m` subspaces, each with its own `ks`-centroid
    * KMeans codebook; the corpus is stored as `m` small codes (+ its
    * exact norm) — at d=64 float the defaults store 16 byte-codes for
    * 256 bytes of floats, 16× (m=8 doubles that, trading recall), the
    * difference between an embedding index fitting in cluster RAM or
    * not. Queries score candidates by asymmetric distance (exact query
    * sub-vector · nearest-centroid reconstruction, summed across
    * subspaces — no corpus-vector decode), keep the top
    * `k × rerankFactor` per query, and rerank ONLY those exactly via a
    * keyed refetch join. The full-precision corpus is touched for just
    * k·rerankFactor·|Q| rows; everything wide stays columnar-pruned.
    * Codebooks are literals (m·ks·(d/m) doubles — broadcast with the
    * task binary like the LSH planes). Deterministic: fixed KMeans
    * seed, fixed fold order, rounded tie-broken ranking. Defaults are
    * calibrated on the uniform-random fixture (PQ's worst case — no
    * cluster structure): recall@5 = 0.96 at sf0.1 (2k vectors),
    * ≥ 0.8 across the parameter neighborhood; `rerankFactor` is the
    * recall/cost knob as the corpus grows. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 16, ks: Int = 16,
             rerankFactor: Int = 40): DataFrame = {
    reg(corpus)
    // localCheckpoint, not persist (see ivfTopK / MinHashLsh)
    val c0 = corpus.select(col(idCol).as("nid"), asDouble(vecCol).as("nv"))
      .withColumn("nn", sqrt(dot("nv", "nv")))
      .localCheckpoint(true)
    val dim = c0.select(size(col("nv"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // Per-subspace codebooks — r16: trained with a driver-side
    // deterministic k-means++ + Lloyd over a BOUNDED sample instead of
    // m Spark-ML KMeans fits. The old path launched ~160 tiny Spark
    // jobs (16 subspaces x 10 iterations) and cost ~15 s/run at ANY
    // corpus size — pure scheduler/iteration overhead, the single most
    // expensive path in the engine. Training PQ codebooks on a fixed-
    // size sample is the standard index-build practice (FAISS trains
    // on ~max(256, 64*ks) points per centroid); the sample here is
    // deterministic (top-4096 by xxhash64(id) — one bounded
    // TakeOrderedAndProject, never an unbounded collect) and the
    // driver-side Lloyd is O(|sample| * ks * dim * iters) ≈ 10M flops.
    // The ANN result changes only through codebook quality; the
    // DECLARED l30 output is the recall gate vs the exact top-k, which
    // stays well above its 0.6 bound (re-measured at sf0.001/0.01/0.1;
    // recall asserted in OperatorsSpec).
    val sampleCap = 4096
    val sample = c0.select(col("nid"), col("nv"))
      .orderBy(xxhash64(col("nid")), col("nid")).limit(sampleCap)
      .collect().map(_.getSeq[Double](1).toArray)
    val codebook = (0 until m).map { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      kmeansPP(pts, ks, iters = 10, seed = 42L + j)
    }
    val cb = typedlit(codebook.map(_.toArray).toArray)
    // encode: per subspace, the index of the nearest centroid by L2
    val enc = c0.withColumn("__cb", cb).withColumn("codes", expr(
      s"""transform(sequence(0, ${m - 1}), j -> element_at(array_sort(
            transform(sequence(0, ${ks - 1}), c -> struct(
              aggregate(zip_with(slice(nv, j * $sub + 1, $sub),
                  element_at(element_at(__cb, j + 1), c + 1),
                  (x, y) -> (x - y) * (x - y)),
                cast(0 AS DOUBLE), (a, z) -> a + z) AS d,
              c AS idx))), 1).idx)"""))
      .select(col("nid"), col("nn"), col("codes"))
    val q = queries.select(col(idCol).as("qid"), asDouble(vecCol).as("qv"))
      .withColumn("qn", sqrt(dot("qv", "qv")))
    // ADC pass over the narrow (nid, nn, codes) corpus: approximate
    // cosine = sum_j <q_subj, centroid_j[code_j]> / (|q|·|n|)
    val adc = enc.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("__cb", cb)
      .withColumn("adc", expr(
        s"""aggregate(sequence(0, ${m - 1}), cast(0 AS DOUBLE),
              (acc, j) -> acc + aggregate(
                zip_with(slice(qv, j * $sub + 1, $sub),
                  element_at(element_at(__cb, j + 1),
                    element_at(codes, j + 1) + 1),
                  (x, y) -> x * y),
                cast(0 AS DOUBLE), (a, z) -> a + z))""") /
        (col("qn") * col("nn")))
    val cand = adc.withColumn("crn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("nid").asc)))
      .filter(col("crn") <= k * rerankFactor)
      .select(col("qid"), col("qv"), col("qn"), col("nid"))
    // exact rerank of only the surviving candidates (keyed refetch)
    val scored = cand.join(c0.select(col("nid"), col("nv"), col("nn")), Seq("nid"))
      .withColumn("sim", round(dot("qv", "nv") / (col("qn") * col("nn")), 6))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rn"))
  }

  /** Deterministic k-means++ seeding + Lloyd refinement on the driver
    * (bounded-sample codebook training for [[pqTopK]]). Ties break on
    * the lowest index; an emptied cluster keeps its previous center —
    * fully deterministic for a fixed (points, seed). */
  private[operators] def kmeansPP(pts: Array[Array[Double]], ks: Int,
                                  iters: Int, seed: Long): Array[Array[Double]] = {
    val n = pts.length
    require(n > 0, "kmeansPP needs a non-empty sample")
    val d = pts(0).length
    val rnd = new scala.util.Random(seed)
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // k-means++ seeding: next center ~ P(x) proportional to D(x)^2
    val centers = Array.ofDim[Array[Double]](ks)
    centers(0) = pts(rnd.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < ks) {
      var sum = 0.0
      var i = 0
      while (i < n) {
        val dd = dist2(pts(i), centers(c - 1))
        if (dd < minD(i)) minD(i) = dd
        sum += minD(i); i += 1
      }
      var target = rnd.nextDouble() * sum
      var pick = 0
      i = 0
      var acc = 0.0
      while (i < n) {
        acc += minD(i)
        if (acc >= target) { pick = i; i = n } else i += 1
      }
      centers(c) = pts(pick).clone()
      c += 1
    }
    // Lloyd iterations
    val sums = Array.ofDim[Double](ks, d)
    val counts = Array.ofDim[Int](ks)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(counts, 0)
      sums.foreach(java.util.Arrays.fill(_, 0.0))
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < ks) {
          val dd = dist2(pts(i), centers(j))
          if (dd < bestD) { bestD = dd; best = j }
          j += 1
        }
        counts(best) += 1
        var t = 0
        while (t < d) { sums(best)(t) += pts(i)(t); t += 1 }
        i += 1
      }
      var j = 0
      while (j < ks) {
        if (counts(j) > 0) {
          var t = 0
          while (t < d) { centers(j)(t) = sums(j)(t) / counts(j); t += 1 }
        } // empty cluster: keep previous center (deterministic)
        j += 1
      }
      it += 1
    }
    centers
  }
}
