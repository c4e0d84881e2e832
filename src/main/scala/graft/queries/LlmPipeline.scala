package graft.queries

import graft.{Q, Tables}
import graft.functions.TextFns
import graft.operators.{MinHashLsh, SimHash, SimilarityJoin, CosineKnn, Multimodal, QualityClassifier, AudioCodec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** LLM-training-data pipeline operators over the documents/embeddings
  * fixtures: deduplication (exact, MinHash-LSH, SimHash, n-gram
  * similarity join), similarity search (brute-force + LSH ANN), and
  * text analysis (language-ID, quality, token stats, winnowing
  * fingerprints).
  *
  * Oracle discipline: every hash is md5 (DuckDB computes the identical
  * hex), every similarity is double arithmetic with a fixed fold order,
  * every output carries a total ORDER BY. The probabilistic operators
  * (MinHash banding) are parameterized so recall at the fixture's
  * duplicate strength (Jaccard >= 0.96) is 1 - ~1e-13 — the exact
  * brute-force oracle matches deterministically; SimHash banding and
  * n-gram prefix filtering are lossless by construction.
  */
object LlmPipeline {

  private val stopEn = Seq("the", "a", "of", "and", "to")
  private val stopEs = Seq("el", "la", "de", "que", "y")
  private val stopFr = Seq("le", "la", "et", "les", "des")
  private val stopDe = Seq("der", "die", "und", "das", "ist")

  private def docsWithToks(s: org.apache.spark.sql.SparkSession, dir: String,
                           fan: Boolean = true) = {
    // spread BEFORE the tokenize pipeline: the fixture's documents
    // table is one single-row-group parquet file = one scan task, so
    // without this every normalize/tokenize/shingle/hash pass above it
    // ran on one core (r15; Tables.spread is a no-op for multi-file
    // corpora). fan=false opts a pipeline OUT when its derivation is a
    // single cheap pass (r16: the repartition + eager materialization
    // of the whole documents table costs more than it buys there —
    // l18 regressed 0.42 -> 0.65 s under unconditional spread, driver
    // r15 artifact).
    // narrowed to the columns the docsWithToks pipelines actually read
    // (doc_id, lang, text), so the spread checkpoint never materializes
    // source/n_chars (r16, guide §2.3)
    val raw = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val d = if (fan) Tables.spread(raw) else raw
    d.withColumn("__norm", TextFns.norm(col("text")))
      .withColumn("__toks", TextFns.tokens(col("__norm")))
  }

  /** Shared oracle for the ANN recall gates (l6/l11): DuckDB
    * independently recomputes the exact top-5 pair count; the recall
    * boolean's expected value is TRUE by the measured margins. */
  private val annRecallOracle = """
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 10),
      s AS (SELECT qid, vec_id nid,
              round(list_inner_product(qv, v) /
                    (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6) sim
            FROM q, e WHERE vec_id <> qid),
      r AS (SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) rn
            FROM s)
      SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
      FROM r WHERE rn <= 5"""

  val qs: Seq[Q] = Seq(

    // L1: exact dedup — hash-groupBy on normalized text, per-lang stats
    Q("l1_exact_dedup", (s, dir) => {
      docsWithToks(s, dir)
        .withColumn("h", md5(col("__norm")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dups"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, count(*) AS n_docs,
             count(DISTINCT md5(lower(trim(regexp_replace(text,'\s+',' ','g'))))) AS n_unique,
             count(*) - count(DISTINCT md5(lower(trim(regexp_replace(text,'\s+',' ','g'))))) AS n_dups
      FROM documents GROUP BY lang ORDER BY lang""")),

    // L2: MinHash-LSH near-dup pairs, verified with exact Jaccard.
    // Oracle = brute-force all-pairs shingle Jaccard (banding recall at
    // the fixture's >=0.96 dup strength is 1 - ~1e-13).
    Q("l2_minhash_neardup", (s, dir) => {
      MinHashLsh.nearDupPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        .orderBy("a", "b")
    }, Some("""
      WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)]
               ELSE [] END)) s FROM t),
      sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      pairs AS (SELECT x.doc_id a, y.doc_id b, count(*) inter
                FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
      SELECT a, b, round(inter*1.0/(sa.n + sb.n - inter), 4) jac
      FROM pairs JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.8
      ORDER BY a, b"""), bench = true),

    // L13: the dedup DECISION — connected components over the near-dup
    // graph, keep each cluster's min-id representative. Oracle computes
    // the same transitive closure with a recursive CTE.
    Q("l13_dedup_keep", (s, dir) => {
      MinHashLsh.dedupAssignments(Tables.load(s, dir, "documents"),
          "doc_id", "text", threshold = 0.8)
        .orderBy("id")
    }, Some("""
      WITH RECURSIVE t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)]
               ELSE [] END)) s FROM t),
      sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      pairs AS (SELECT x.doc_id a, y.doc_id b, count(*) inter
                FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
      good AS (SELECT a, b FROM pairs
               JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
               WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.8),
      edges AS (SELECT a, b FROM good UNION ALL SELECT b, a FROM good),
      reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.a AS id, reach.r
        FROM reach JOIN edges e ON e.b = reach.id),
      rep AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
      SELECT id, rep, id = rep AS is_kept
      FROM rep ORDER BY id"""))
      ,

    // L31: incremental dedup — the odd-id half of `documents` arrives as
    // a new batch and probes the even-id half's standing LSH band index;
    // only band-bucket matches are exact-verified. Oracle = brute-force
    // cross-parity Jaccard (banding recall at the fixture's >=0.96 dup
    // strength is 1 - ~1e-13, same argument as l2).
    Q("l31_incremental_dedup", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      MinHashLsh.incrementalDedup(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", threshold = 0.8)
        .orderBy("id")
    }, Some("""
      WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)]
               ELSE [] END)) s FROM t),
      sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      pairs AS (SELECT x.doc_id a, y.doc_id b, count(*) inter
                FROM sh x JOIN sh y ON x.s = y.s
                WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
                GROUP BY 1, 2),
      good AS (SELECT a, b, round(inter*1.0/(sa.n + sb.n - inter), 4) jac
               FROM pairs JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
               WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.8),
      best AS (SELECT a AS id, min(b) AS dup_of, arg_min(jac, b) AS jac
               FROM good GROUP BY 1)
      SELECT d.doc_id AS id, best.dup_of IS NOT NULL AS is_dup,
             best.dup_of, best.jac
      FROM documents d LEFT JOIN best ON best.id = d.doc_id
      WHERE d.doc_id % 2 = 1 ORDER BY id""")),

    // L3: SimHash near-dup pairs (Hamming <= 5 on 60-bit fingerprints;
    // 6-band bucketing is lossless for dist <= 5 by pigeonhole)
    Q("l3_simhash_neardup", (s, dir) => {
      SimHash.nearDupPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", maxDist = 5)
        .orderBy("a", "b")
    }, Some("""
      WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)]
               ELSE [] END)) s FROM t),
      h AS (SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) h FROM sh),
      bits AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) c
               FROM h, (SELECT unnest(range(60)) j) GROUP BY 1, 2),
      fp AS (SELECT doc_id, sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) sim
             FROM bits GROUP BY 1)
      SELECT x.doc_id a, y.doc_id b, CAST(bit_count(xor(x.sim, y.sim)) AS INT) hamming
      FROM fp x JOIN fp y ON x.doc_id < y.doc_id
      WHERE bit_count(xor(x.sim, y.sim)) <= 5
      ORDER BY a, b""")),

    // L4: char-4-gram Jaccard similarity join, lang-blocked, prefix-
    // filtered (lossless) — oracle is the brute-force in-block join
    Q("l4_ngram_simjoin", (s, dir) => {
      SimilarityJoin.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", "lang", n = 4, threshold = 0.8)
        .orderBy("block", "a", "b")
    }, Some("""
      WITH t AS (SELECT doc_id, lang, lower(trim(regexp_replace(text,'\s+',' ','g'))) txt FROM documents),
      ng AS (SELECT doc_id, lang, unnest(list_distinct(CASE WHEN len(txt) >= 4
               THEN [substr(txt, i, 4) for i in range(1, len(txt)-2)]
               ELSE [] END)) g FROM t),
      sizes AS (SELECT doc_id, count(*) n FROM ng GROUP BY 1),
      pairs AS (SELECT x.lang block, x.doc_id a, y.doc_id b, count(*) inter
                FROM ng x JOIN ng y ON x.g = y.g AND x.lang = y.lang AND x.doc_id < y.doc_id
                GROUP BY 1, 2, 3)
      SELECT block, a, b, round(inter*1.0/(sa.n + sb.n - inter), 4) jac
      FROM pairs JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE inter*1.0/(sa.n + sb.n - inter) >= 0.8
      ORDER BY block, a, b""")),

    // L5: brute-force cosine top-5 for 10 query vectors (exact ANN
    // baseline; corpus scanned once, queries broadcast)
    Q("l5_cosine_topk", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      CosineKnn.bruteForceTopK(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy("qid", "rn")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 10),
      s AS (SELECT qid, vec_id nid,
              round(list_inner_product(qv, v) /
                    (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6) sim
            FROM q, e WHERE vec_id <> qid),
      r AS (SELECT qid, nid, sim,
              CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) rn
            FROM s)
      SELECT qid, nid, sim, rn FROM r WHERE rn <= 5 ORDER BY qid, rn"""),
      bench = true),

    // L17: exact cosine top-k at LARGE |Q| — the query side is the
    // whole corpus (nothing broadcastable), distributed as the
    // block-pair equi-join (CosineKnn.blockTopK; no BNLJ/cartesian,
    // plan-asserted in OperatorsSpec)
    Q("l17_cosine_topk_blocked", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      CosineKnn.blockTopK(e, e.filter(col("vec_id") < 200),
          "vec_id", "embedding", k = 3)
        .orderBy("qid", "rn")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 200),
      s AS (SELECT qid, vec_id nid,
              round(list_inner_product(qv, v) /
                    (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6) sim
            FROM q, e WHERE vec_id <> qid),
      r AS (SELECT qid, nid, sim,
              CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) rn
            FROM s)
      SELECT qid, nid, sim, rn FROM r WHERE rn <= 3 ORDER BY qid, rn""")),

    // L6: LSH-bucketed ANN (sign-LSH + Hamming-2 multiprobe + exact
    // rerank). The ANN result itself is approximate, so the driver-
    // gated row is its RECALL against the exact top-k: n_exact is
    // recomputed independently by DuckDB and recall_ok materializes
    // `recall >= 0.75` (measured 0.84–0.90 across sf0.001–sf0.1).
    Q("l6_ann_lsh", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val exact = CosineKnn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      val ann = CosineKnn.lshTopK(e, q, "vec_id", "embedding", k = 5)
      exact.select(col("qid"), col("nid"))
        .join(ann.select(col("qid"), col("nid"), lit(1).as("hit")),
          Seq("qid", "nid"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.75)
            .as("recall_ok"))
    }, Some(annRecallOracle)),

    // L6b: IVF ANN (KMeans coarse quantizer + multiprobe + exact
    // rerank), driver-gated the same way: recall >= 0.6 vs the exact
    // top-k (measured 0.76–0.80; uniform fixture is IVF's worst case).
    Q("l11_ann_ivf", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val exact = CosineKnn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      val ann = CosineKnn.ivfTopK(e, q, "vec_id", "embedding", k = 5)
      exact.select(col("qid"), col("nid"))
        .join(ann.select(col("qid"), col("nid"), lit(1).as("hit")),
          Seq("qid", "nid"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.6)
            .as("recall_ok"))
    }, Some(annRecallOracle)),

    // L6c: product-quantization ANN (per-subspace KMeans codebooks,
    // asymmetric-distance scan over 8-byte codes, exact rerank of the
    // top-k×10 candidates only) — the memory-compressed 100 TB path
    // (32× smaller index). Driver-gated like l6/l11: recall >= 0.6 vs
    // the exact top-k recomputed by DuckDB.
    Q("l30_ann_pq", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val exact = CosineKnn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      val ann = CosineKnn.pqTopK(e, q, "vec_id", "embedding", k = 5)
      exact.select(col("qid"), col("nid"))
        .join(ann.select(col("qid"), col("nid"), lit(1).as("hit")),
          Seq("qid", "nid"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.6)
            .as("recall_ok"))
    }, Some(annRecallOracle)),

    // L12: embedding-cosine near-dup pairs (exact; the fixture's max
    // cosine is ~0.51 so 0.45 yields a small deterministic pair set)
    Q("l12_cosine_neardup", (s, dir) => {
      CosineKnn.nearDupPairs(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.45)
        .orderBy("a", "b")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      u AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_inner_product(v, v))) uv FROM e)
      SELECT a.vec_id a, b.vec_id b,
             round(list_inner_product(a.uv, b.uv), 6) sim
      FROM u a JOIN u b ON a.vec_id < b.vec_id
      WHERE round(list_inner_product(a.uv, b.uv), 6) >= 0.45
      ORDER BY a, b""")),

    // L15: LSH-candidate near-dup pairs (multi-table sign-LSH + exact
    // rerank) — the approximate 100 TB path beside exact l12. Driver-
    // gated via the derived metrics row: n_exact recomputed by DuckDB,
    // precision_ok (every emitted pair is in the exact set — rerank
    // guarantees it) and recall_ok >= 0.8 (measured 0.86–1.0 at
    // nTables=12 across SFs; uniform vectors are LSH's worst case).
    Q("l15_cosine_neardup_lsh", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val exact = CosineKnn.nearDupPairs(e, "vec_id", "embedding",
        threshold = 0.45).select(col("a"), col("b"))
      val lsh = CosineKnn.lshNearDupPairs(e, "vec_id", "embedding",
          threshold = 0.45, nPlanes = 4, nTables = 12)
        .select(col("a"), col("b"))
      val rec = exact
        .join(lsh.withColumn("hit", lit(1)), Seq("a", "b"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.8)
            .as("recall_ok"))
      val prec = lsh
        .join(exact.withColumn("ok", lit(1)), Seq("a", "b"), "left")
        .agg(coalesce(count(lit(1)) === sum(col("ok")), lit(true))
          .as("precision_ok"))
      rec.crossJoin(prec)
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      u AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_inner_product(v, v))) uv FROM e)
      SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok,
             TRUE AS precision_ok
      FROM u a JOIN u b ON a.vec_id < b.vec_id
      WHERE round(list_inner_product(a.uv, b.uv), 6) >= 0.45""")),

    // L7: language-ID by stopword-profile scoring
    Q("l7_langid", (s, dir) => {
      val scored = docsWithToks(s, dir).select(
        col("doc_id"), col("lang"),
        TextFns.countIn(col("__toks"), stopEn).as("s_en"),
        TextFns.countIn(col("__toks"), stopEs).as("s_es"),
        TextFns.countIn(col("__toks"), stopFr).as("s_fr"),
        TextFns.countIn(col("__toks"), stopDe).as("s_de"))
      scored.withColumn("pred",
          when(col("s_en") === 0 && col("s_es") === 0 &&
               col("s_fr") === 0 && col("s_de") === 0, "und")
            .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
                  col("s_en") >= col("s_de"), "en")
            .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_de"), "es")
            .when(col("s_fr") >= col("s_de"), "fr")
            .otherwise("de"))
        .select(col("doc_id"), col("lang"), col("pred"),
          col("s_en"), col("s_es"), col("s_fr"), col("s_de"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, lang,
                   string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks
                 FROM documents),
      s AS (SELECT doc_id, lang,
        CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS INT) s_en,
        CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x))) AS INT) s_es,
        CAST(len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS INT) s_fr,
        CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS INT) s_de
      FROM t)
      SELECT doc_id, lang,
             CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_de = 0 THEN 'und'
                  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                  WHEN s_fr >= s_de THEN 'fr'
                  ELSE 'de' END pred,
             s_en, s_es, s_fr, s_de
      FROM s ORDER BY doc_id""")),

    // L8: per-doc quality heuristics (type-token ratio, stopword ratio,
    // length prior) — rational arithmetic only, no transcendentals
    Q("l8_quality", (s, dir) => {
      docsWithToks(s, dir).select(
          col("doc_id"),
          size(col("__toks")).as("n_tokens"),
          size(array_distinct(col("__toks"))).as("n_uniq"),
          TextFns.countIn(col("__toks"), stopEn).as("n_stop"))
        .withColumn("ttr",
          round(col("n_uniq").cast("double") / col("n_tokens"), 4))
        .withColumn("stop_ratio",
          round(col("n_stop").cast("double") / col("n_tokens"), 4))
        .withColumn("quality",
          round(lit(0.4) * (col("n_uniq").cast("double") / col("n_tokens")) +
                lit(0.4) * (col("n_stop").cast("double") / col("n_tokens")) +
                lit(0.2) * (least(col("n_tokens"), lit(100)).cast("double") / 100.0), 4))
        .select(col("doc_id"), col("n_tokens"), col("n_uniq"), col("ttr"),
          col("stop_ratio"), col("quality"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id,
                   string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks
                 FROM documents),
      s AS (SELECT doc_id,
              CAST(len(toks) AS INT) n_tokens,
              CAST(len(list_distinct(toks)) AS INT) n_uniq,
              CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS INT) n_stop
            FROM t)
      SELECT doc_id, n_tokens, n_uniq,
             round(CAST(n_uniq AS DOUBLE) / n_tokens, 4) ttr,
             round(CAST(n_stop AS DOUBLE) / n_tokens, 4) stop_ratio,
             round(0.4 * (CAST(n_uniq AS DOUBLE) / n_tokens) +
                   0.4 * (CAST(n_stop AS DOUBLE) / n_tokens) +
                   0.2 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0), 4) quality
      FROM s ORDER BY doc_id""")),

    // L32: model-based quality filter (CCNet/fasttext shape) — logistic
    // regression over [ttr, stop_ratio, len_prior] + L1-normalized
    // hashed bag-of-words, weakly supervised by the l8 rule's clear
    // extremes (bottom/top quality quartile; the murky middle is
    // dropped, as in CCNet), trained on even ids, scored on the odd-id
    // holdout. Driver-gated like the ANN queries: DuckDB independently
    // recomputes the holdout population (quality formula + quartile
    // cuts, so the n_docs compare also checks the labeling path); the
    // agreement boolean's expected value is TRUE by a wide margin
    // (measured 0.92 at sf0.01 vs the 0.75 gate).
    Q("l32_quality_classifier", (s, dir) => {
      val scored = docsWithToks(s, dir).select(
          col("doc_id"), col("__toks"),
          round(size(array_distinct(col("__toks"))).cast("double") /
            size(col("__toks")), 4).as("ttr"),
          round(TextFns.countIn(col("__toks"), stopEn).cast("double") /
            size(col("__toks")), 4).as("stop_ratio"),
          round(least(size(col("__toks")), lit(100)).cast("double") / 100.0,
            4).as("len_prior"))
        .withColumn("quality", round(lit(0.4) * col("ttr") +
          lit(0.4) * col("stop_ratio") + lit(0.2) * col("len_prior"), 4))
        // r16: referenced by the percentile cut AND the extremes
        // filter feeding the classifier — tokenize once, not three
        // times (eager checkpoint inside the run)
        .localCheckpoint(true)
      val cuts = scored.agg(expr("percentile(quality, 0.25)"),
        expr("percentile(quality, 0.75)")).head
      val (q25, q75) = (cuts.getDouble(0), cuts.getDouble(1))
      val extremes = scored
        .filter(col("quality") <= q25 || col("quality") >= q75)
      QualityClassifier.holdoutAgreement(extremes, "doc_id", "__toks",
        numericCols = Seq("ttr", "stop_ratio", "len_prior"),
        ruleLabel = col("quality") >= q75,
        trainFilter = col("doc_id") % 2 === 0,
        minAgreement = 0.75)
    }, Some("""
      WITH t AS (SELECT doc_id,
                   string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks
                 FROM documents),
      s AS (SELECT doc_id,
              round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) ttr,
              round(CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(toks), 4) stop_ratio,
              round(CAST(least(len(toks), 100) AS DOUBLE) / 100.0, 4) len_prior
            FROM t),
      q AS (SELECT doc_id, round(0.4*ttr + 0.4*stop_ratio + 0.2*len_prior, 4) quality FROM s),
      cuts AS (SELECT quantile_cont(quality, 0.25) q25, quantile_cont(quality, 0.75) q75 FROM q)
      SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS agreement_ok
      FROM q, cuts
      WHERE doc_id % 2 = 1 AND (quality <= q25 OR quality >= q75)""")),

    // L9: corpus vocabulary — token counting via explode + groupBy
    Q("l9_vocab", (s, dir) => {
      docsWithToks(s, dir)
        .select(col("doc_id"), explode(col("__toks")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occ").desc, col("token").asc)
        .limit(30)
    }, Some("""
      WITH t AS (SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) token
                 FROM documents)
      SELECT token, count(*) n_occ, count(DISTINCT doc_id) n_docs
      FROM t GROUP BY token ORDER BY n_occ DESC, token LIMIT 30""")),

    // L10: winnowing document fingerprints (Schleimer et al.): min hash
    // per sliding window of 4 positional 3-shingles, distinct mins =
    // the doc's sketch
    Q("l10_winnow", (s, dir) => {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.currentRow, 3)
      docsWithToks(s, dir)
        .select(col("doc_id"),
          posexplode(TextFns.wordShinglesPositional(col("__toks"), 3))
            .as(Seq("pos", "sh")))
        .withColumn("h", substring(md5(col("sh")), 1, 16))
        .withColumn("wmin", min(col("h")).over(w))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("wmin"))).as("sketch"))
        .select(col("doc_id"), size(col("sketch")).as("n_fp"),
          md5(concat_ws(",", col("sketch"))).as("fp"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id,
                   string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks
                 FROM documents),
      t2 AS (SELECT doc_id, CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)]
               ELSE [] END sh3 FROM t),
      p AS (SELECT doc_id, unnest(generate_series(1, len(sh3))) pos, sh3 FROM t2),
      ph AS (SELECT doc_id, pos, substr(md5(sh3[pos]), 1, 16) h FROM p),
      w AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) wmin FROM ph),
      sk AS (SELECT doc_id, list_sort(list(DISTINCT wmin)) sketch FROM w GROUP BY doc_id)
      SELECT doc_id, CAST(len(sketch) AS INT) n_fp,
             md5(array_to_string(sketch, ',')) fp
      FROM sk ORDER BY doc_id""")),

    // L16: PII-style redaction — the standard training-data scrub.
    // The fixture text has no contact strings, so deterministic fake
    // ones are appended (same expression both engines), then URLs,
    // emails and phones are counted and replaced with tags, in that
    // order (URLs can contain '@'). Per-row, embarrassingly parallel.
    Q("l16_redaction", (s, dir) => {
      val urlRe = "https?://[^\\s]+"
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+\\d[\\d-]{7,}"
      Tables.load(s, dir, "documents")
        .withColumn("raw", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" via https://example.org/d/"), col("doc_id").cast("string")))
        .select(col("doc_id"),
          regexp_count(col("raw"), lit(urlRe)).cast("long").as("n_urls"),
          regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("raw"), lit(phoneRe)).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("raw"),
            urlRe, "<URL>"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
            .cast("binary")).as("redacted_fp"))
        .orderBy("doc_id")
    }, Some("""
      WITH r AS (SELECT doc_id,
          text || ' contact user' || CAST(doc_id AS VARCHAR) ||
          '@example.com or +1-555-' ||
          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
          ' via https://example.org/d/' || CAST(doc_id AS VARCHAR) AS raw
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(raw, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
             CAST(len(regexp_extract_all(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(raw, '\+\d[\d-]{7,}')) AS BIGINT) AS n_phones,
             md5(regexp_replace(regexp_replace(regexp_replace(raw,
               'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+\d[\d-]{7,}', '<PHONE>', 'g')) AS redacted_fp
      FROM r ORDER BY doc_id""")),

    // L14: the composed training-data pipeline — quality filter (token
    // floor) -> exact dedup (md5 hash-group, min-id keeper) -> per-
    // language corpus stats. One pass, one window shuffle on the hash,
    // one agg shuffle on lang; every stage is the operator proven
    // individually above.
    Q("l14_pipeline", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"), col("lang"), col("text"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"))
        .filter(col("n_tokens") >= 20)
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")))
        .filter(col("rn") === 1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("lang")
    }, Some("""
      SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM (
        SELECT lang, n_tokens,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM (SELECT doc_id, lang, text,
                     CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
              FROM documents)
        WHERE n_tokens >= 20)
      WHERE rn = 1 GROUP BY lang ORDER BY lang""")),

    // L18: sequence packing for training (concat-then-chunk, the
    // GPT-style prep step): documents shard deterministically, order
    // by doc_id inside the shard, and the running token prefix assigns
    // each document's start to a fixed context bin of 512 tokens. At
    // 100 TB the shard count scales out (shard = the parallelism unit,
    // no packing state crosses shards) and the only shuffle is the
    // per-shard window — no driver-side packing loop anywhere.
    Q("l18_pack_sequences", (s, dir) => {
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // fan=false: one cheap tokenize-and-count pass — the spread
      // materialization was pure overhead here (r16, see docsWithToks)
      docsWithToks(s, dir, fan = false)
        .select(col("doc_id"), size(col("__toks")).as("n_tokens"))
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin",
          floor((col("cum") - col("n_tokens")) / lit(512.0)))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
        .orderBy(col("shard"), col("bin"))
    }, Some("""
      WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                   CAST(len(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) AS BIGINT) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, shard, n_tokens,
              sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
            FROM t)
      SELECT shard, CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin,
             count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
      FROM c GROUP BY 1, 2 ORDER BY shard, bin"""), bench = true),

    // L19: stratified sampling for corpus balancing: keep at most 5
    // documents per (lang, source) stratum, chosen by a deterministic
    // hash order — reproducible across runs and engines, unlike
    // Bernoulli sampling. One window shuffle on the stratum key; at
    // 100 TB each stratum ranks only its own partition share and the
    // filter cuts the output before any further stage.
    Q("l19_stratified_sample", (s, dir) => {
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.load(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("source"), col("doc_id"))
        .orderBy(col("lang"), col("source"), col("doc_id"))
    }, Some("""
      SELECT lang, source, doc_id FROM (
        SELECT lang, source, doc_id,
               row_number() OVER (PARTITION BY lang, source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
      WHERE rn <= 5 ORDER BY lang, source, doc_id""")),

    // L20: int8 embedding quantization (the standard compression step
    // before ANN at scale: 4x smaller vectors, scale factor per
    // vector). Max-abs symmetric quantization; the output carries the
    // per-vector scale, the quantized checksum, and the reconstruction
    // error. Pure per-row map work — no shuffle until the final sort.
    Q("l20_quantize_int8", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val vd = transform(col("embedding"), x => x.cast("double"))
      e.select(col("vec_id"), vd.as("v"))
        .withColumn("mabs", array_max(transform(col("v"), x => abs(x))))
        .filter(col("mabs") > 0)
        // __scale: the output alias must NOT be named "scale" too —
        // Spark's lateral column alias would shadow the input column
        // and silently feed the ROUNDED scale into the aggregates
        .withColumn("__scale", col("mabs") / lit(127.0))
        .select(col("vec_id"),
          round(col("__scale"), 6).as("scale"),
          // floor(x + 0.5), not round(): identical double semantics in
          // every engine — round-half modes differ across engines and
          // the synthetic embeddings hit exact ties
          aggregate(col("v"), lit(0L),
            (acc, x) => acc + floor(x / col("__scale") + lit(0.5)).cast("long"))
            .as("qsum"),
          round(aggregate(col("v"), lit(0.0),
            (acc, x) => acc +
              abs(x - floor(x / col("__scale") + lit(0.5)) * col("__scale"))), 6)
            .as("err"))
        .orderBy("vec_id")
    }, Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mabs FROM e),
      q AS (SELECT vec_id, v, mabs / 127.0 AS scale FROM m WHERE mabs > 0)
      SELECT vec_id, round(scale, 6) AS scale,
             CAST(list_sum(list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))) AS BIGINT) AS qsum,
             round(list_sum(list_transform(v, x -> abs(x - floor(x / scale + 0.5) * scale))), 6) AS err
      FROM q ORDER BY vec_id""")),

    // L21: benchmark decontamination (the GPT-3-style prep step): flag
    // corpus documents sharing any word-8-gram with a held-out
    // benchmark set (here the deterministic doc_id % 7 slice). Both
    // sides shingle once; contamination is a hash equi-join on the
    // gram, so at 100 TB the corpus never self-joins — it joins the
    // (much smaller) benchmark gram set, and AQE broadcasts it when it
    // fits. Output: contaminated doc -> how many benchmark docs and
    // distinct grams it collides with.
    Q("l21_decontaminate", (s, dir) => {
      // r16: the join/distinct key is the 60-bit md5 HASH of the
      // 8-gram, not the ~50-byte gram string — the contamination
      // decision only needs key equality, so shuffle/agg rows shrink
      // ~6x (guide §2.3 "shuffle keys and metadata instead of
      // payloads"); countDistinct over the hashes equals countDistinct
      // over the grams absent 60-bit collisions (oracle-gated).
      graft.dialect.ChFunctions.register(s) // md5Prefix60
      val sh = docsWithToks(s, dir)
        .select(col("doc_id"),
          explode(TextFns.wordShingles(col("__toks"), 8)).as("g0"))
        .select(col("doc_id"), expr("md5Prefix60(g0)").as("g"))
      val bench = sh.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id").as("bench_id"), col("g"))
      sh.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .join(bench, "g")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("bench_id")).as("n_bench_docs"),
          countDistinct(col("g")).as("n_shared_grams"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 8
               THEN [array_to_string(toks[i:i+7],' ') for i in range(1, len(toks)-6)]
               ELSE [] END)) g FROM t),
      b AS (SELECT doc_id bench_id, g FROM sh WHERE doc_id % 7 = 0),
      c AS (SELECT doc_id, g FROM sh WHERE doc_id % 7 <> 0)
      SELECT c.doc_id, count(DISTINCT bench_id) AS n_bench_docs,
             count(DISTINCT c.g) AS n_shared_grams
      FROM c JOIN b ON b.g = c.g
      GROUP BY 1 ORDER BY doc_id"""), bench = true),

    // L22: mixture sampling for corpus balancing: each source gets a
    // keep-probability (here derived from the source id; in production
    // the mixture weights table) and each document keeps or drops by a
    // deterministic md5-uniform draw — reproducible across engines and
    // runs, unlike rand(). Pure per-row map + one groupBy; no driver
    // state, so the 100 TB path is trivially parallel.
    Q("l22_mixture_sample", (s, dir) => {
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long").cast("double") / lit(4294967296.0)
      val srcnum = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
      val p = (pmod(srcnum, lit(4)) + 1).cast("double") / lit(5.0)
      Tables.load(s, dir, "documents")
        .select(col("source"), u.as("u"), p.as("p"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_in"),
          sum(when(col("u") < col("p"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("source")
    }, Some("""
      WITH d AS (SELECT source,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 AS u,
          (CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 4 + 1) / 5.0 AS p
        FROM documents)
      SELECT source, count(*) AS n_in,
             CAST(sum(CASE WHEN u < p THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM d GROUP BY 1 ORDER BY source""")),

    // L23: TF-IDF top-3 terms per document (keyword extraction for
    // corpus indexing/analysis). Global document frequencies are a
    // vocabulary-sized table — broadcast back to the term-frequency
    // side — and the per-doc rank windows on the doc key. The window
    // orders by the ROUNDED score so cross-engine double ulps can't
    // flip ranks; exact ties break on the term.
    Q("l23_tfidf_topterms", (s, dir) => {
      // r16: tf is referenced twice (the term-frequency side and, via
      // dfreq, the document-frequency side) and no AQE stage reuse ever
      // fires in this codebase (r15, plan-verified) — so the whole
      // tokenize + explode + groupBy pipeline executed TWICE. The eager
      // localCheckpoint materializes the per-(doc, term) counts once
      // per run (from parquet, inside the timed region); df and n are
      // then vocabulary-sized aggregates OVER tf, and the broadcast
      // join shape — the skew-safe plan at 100 TB, where a window
      // partitioned by raw term would bottleneck on stop words — is
      // unchanged. n_docs counts `documents`, as the DuckDB text does:
      // a document with NULL text has no term row in tf, so a count
      // over tf would be one short and shift every score.
      // fan=false (r16 DevAb l23fan, interleaved med): no-fan 0.78 s vs
      // spread 0.89 s vs bare-repartition 0.92 s — a plain tokenize
      // (no per-token digest) is too cheap to amortize redistributing
      // the corpus; the partial aggregate below the tf shuffle bounds
      // the single-task work. Operators with per-token md5 (l34, l35,
      // minhash/simhash) keep the spread.
      val tf = docsWithToks(s, dir, fan = false)
        .select(col("doc_id"), explode(col("__toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = Tables.load(s, dir, "documents")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rn"))
        .orderBy("doc_id", "rn")
    }, Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) term FROM documents),
      tf AS (SELECT doc_id, term, count(*) tf FROM toks GROUP BY 1, 2),
      df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
      n AS (SELECT count(DISTINCT doc_id) n_docs FROM documents),
      x AS (SELECT doc_id, term,
              round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n),
      r AS (SELECT doc_id, term, tfidf,
              CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS INT) rn FROM x)
      SELECT doc_id, term, tfidf, rn FROM r WHERE rn <= 3
      ORDER BY doc_id, rn"""), bench = true),

    // L24: bigram language-model quality score (the CCNet-style filter:
    // score each document by the average log-probability of its bigrams
    // under the corpus's own bigram model). Corpus-global bigram and
    // unigram counts join back to the positional bigram stream; AQE
    // picks the join strategy (the unigram side is vocabulary-sized and
    // broadcastable, the bigram side shuffles at 100 TB). The per-doc
    // sum folds over the POSITION-SORTED array — a plain groupBy sum()
    // of doubles would depend on task completion order; the array fold
    // matches DuckDB's sequential list_sum exactly.
    Q("l24_bigram_lm_score", (s, dir) => {
      val toks = docsWithToks(s, dir)
      val big = toks.select(col("doc_id"),
          posexplode(TextFns.wordShinglesPositional(col("__toks"), 2))
            .as(Seq("pos", "bg")))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
      val bgCounts = big.groupBy("bg").agg(count(lit(1)).as("c2"))
      val uniCounts = toks
        .select(explode(col("__toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val scored = big
        .join(bgCounts, "bg")
        .join(uniCounts, col("w1") === col("w"))
        .withColumn("logp",
          round(log(col("c2").cast("double") / col("c1")), 6))
      scored.groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          aggregate(
            sort_array(collect_list(struct(col("pos"), col("logp")))),
            lit(0.0), (acc, x) => acc + x.getField("logp")).as("s"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("s") / col("n_bigrams"), 6).as("avg_logp"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks FROM documents),
      bg0 AS (SELECT doc_id, unnest([{'pos': i, 'b': array_to_string(toks[i:i+1],' '), 'w1': toks[i]} for i in range(1, len(toks))]) r FROM t),
      bg AS (SELECT doc_id, r.pos AS pos, r.b AS b, r.w1 AS w1 FROM bg0),
      c2 AS (SELECT b, count(*) c2 FROM bg GROUP BY 1),
      uni AS (SELECT unnest(toks) w FROM t),
      c1 AS (SELECT w, count(*) c1 FROM uni GROUP BY 1),
      sc AS (SELECT doc_id, pos, round(ln(CAST(c2.c2 AS DOUBLE) / c1.c1), 6) logp
             FROM bg JOIN c2 USING (b) JOIN c1 ON c1.w = bg.w1),
      ag AS (SELECT doc_id, count(*) n_bigrams,
                    list_sum(array_agg(logp ORDER BY pos)) s
             FROM sc GROUP BY 1)
      SELECT doc_id, n_bigrams, round(s / n_bigrams, 6) AS avg_logp
      FROM ag ORDER BY doc_id""")),

    // L25: Gopher-style repetition filters (Rae et al. 2021, §A1.1):
    // fraction of characters inside the most frequent word 2-gram, and
    // inside all duplicated word 3-grams — the standard "degenerate
    // repetition" corpus cut (paper thresholds: 0.20 / 0.18). Both
    // signals are per-(doc, gram) counting: two keyed shuffles, no
    // all-pairs anywhere, so the shape survives 100 TB like any
    // groupBy. keep compares the ROUNDED fractions so the cut is
    // bit-identical across engines.
    Q("l25_gopher_repetition", (s, dir) => {
      val toks = docsWithToks(s, dir)
      val chars = toks.select(col("doc_id"),
        length(concat_ws(" ", col("__toks"))).as("n_chars"))
      def gramCounts(w: Int) = toks.select(col("doc_id"),
          explode(TextFns.wordShinglesPositional(col("__toks"), w)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val top2 = gramCounts(2)
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("c").desc, col("g").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), (col("c") * length(col("g"))).as("top2_chars"))
      val dup3 = gramCounts(3).filter(col("c") > 1)
        .groupBy("doc_id")
        .agg(sum(col("c") * length(col("g"))).as("dup3_chars"))
      chars
        .join(top2, Seq("doc_id"), "left")
        .join(dup3, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          round(least(lit(1.0), coalesce(col("top2_chars"), lit(0L))
            .cast("double") / col("n_chars")), 4).as("top2_frac"),
          round(least(lit(1.0), coalesce(col("dup3_chars"), lit(0L))
            .cast("double") / col("n_chars")), 4).as("dup3_frac"))
        .withColumn("keep",
          (col("top2_frac") <= 0.20 && col("dup3_frac") <= 0.18).cast("int"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks FROM documents),
      ch AS (SELECT doc_id, CAST(length(array_to_string(toks, ' ')) AS INT) n_chars FROM t),
      g2 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+1],' ') for i in range(1, len(toks))]) g FROM t),
      c2 AS (SELECT doc_id, g, count(*) c FROM g2 GROUP BY 1, 2),
      t2 AS (SELECT doc_id, c * length(g) top2_chars,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) rn
             FROM c2),
      g3 AS (SELECT doc_id, unnest([array_to_string(toks[i:i+2],' ') for i in range(1, len(toks)-1)]) g FROM t),
      c3 AS (SELECT doc_id, g, count(*) c FROM g3 GROUP BY 1, 2),
      d3 AS (SELECT doc_id, sum(c * length(g)) dup3_chars FROM c3 WHERE c > 1 GROUP BY 1)
      SELECT ch.doc_id AS doc_id, n_chars,
             round(least(1.0, CAST(coalesce(top2_chars, 0) AS DOUBLE) / n_chars), 4) top2_frac,
             round(least(1.0, CAST(coalesce(dup3_chars, 0) AS DOUBLE) / n_chars), 4) dup3_frac,
             CAST(CASE WHEN round(least(1.0, CAST(coalesce(top2_chars, 0) AS DOUBLE) / n_chars), 4) <= 0.20
                        AND round(least(1.0, CAST(coalesce(dup3_chars, 0) AS DOUBLE) / n_chars), 4) <= 0.18
                       THEN 1 ELSE 0 END AS INT) keep
      FROM ch
      LEFT JOIN (SELECT doc_id, top2_chars FROM t2 WHERE rn = 1) tt USING (doc_id)
      LEFT JOIN d3 USING (doc_id)
      ORDER BY doc_id""")),

    // L26: SemDeDup (Abbas et al. 2023) — semantic dedup: cluster the
    // embedding space coarsely, then drop near-identical pairs WITHIN a
    // cluster only (the cross-cluster miss is the method's accepted
    // approximation). Clustering here is deterministic sign quantization
    // of the first 8 dims (2^8 cells — the stand-in for the paper's
    // k-means; at 100 TB raise the bit count / swap in trained
    // centroids, same plan). The keep rule is non-greedy and
    // order-free: drop a doc iff a LOWER-id doc in its cluster exceeds
    // the similarity threshold — deterministic, SQL-expressible, and
    // the pair scan is an EQUI-join on the cluster key (no BNLJ;
    // per-task work bounded by cluster size, exactly like the paper's
    // per-cluster pairwise pass).
    // The fixture has no natural near-dups (max within-cluster cosine
    // 0.43), so the corpus is unioned with SCALED copies of itself
    // (id+100000, every element ×1.01): cosine is scale-invariant, so
    // each copy is an exact sim-1.0 near-dup of its original in the
    // same sign cell — all 500 copies must drop, all originals survive.
    Q("l26_semdedup", (s, dir) => {
      graft.dialect.ChFunctions.register(s) // vecDot (codegen, r16)
      val e = Tables.load(s, dir, "embeddings")
      val base = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val copies = base.select((col("vec_id") + 100000).as("vec_id"),
        expr("transform(v, x -> x * 1.01)").as("v"))
      val cluster = (0 until 8).map(i =>
        when(element_at(col("v"), i + 1) >= 0d, lit(1 << i))
          .otherwise(lit(0))).reduce(_ + _)
      val c = base.unionByName(copies)
        .withColumn("cluster", cluster)
        // vecDot(v, v) = the old aggregate(v, 0D, (a,x) -> a + x*x)
        // fold, codegen'd (identical left-to-right order)
        .withColumn("n", expr("sqrt(vecDot(v, v))"))
      val a = c.select(col("cluster"), col("vec_id").as("a_id"),
        col("v").as("a_v"), col("n").as("a_n"))
      val b = c.select(col("cluster"), col("vec_id").as("b_id"),
        col("v").as("b_v"), col("n").as("b_n"))
      val drops = a.join(b, Seq("cluster")).filter(col("a_id") < col("b_id"))
        // codegen'd per-pair dot (was an interpreted zip_with+fold; r16)
        .withColumn("sim", round(expr("vecDot(a_v, b_v)")
          / (col("a_n") * col("b_n")), 6))
        .filter(col("sim") > 0.92)
        .select(col("b_id").as("vec_id")).distinct()
      c.join(drops, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cluster").cast("int").as("cluster"))
        .orderBy("vec_id")
    }, Some("""
      WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      e AS (SELECT vec_id, v FROM base
            UNION ALL
            SELECT vec_id + 100000, list_transform(v, x -> x * 1.01) FROM base),
      c AS (SELECT vec_id, v,
              (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
              + 2 * (CASE WHEN v[2] >= 0 THEN 1 ELSE 0 END)
              + 4 * (CASE WHEN v[3] >= 0 THEN 1 ELSE 0 END)
              + 8 * (CASE WHEN v[4] >= 0 THEN 1 ELSE 0 END)
              + 16 * (CASE WHEN v[5] >= 0 THEN 1 ELSE 0 END)
              + 32 * (CASE WHEN v[6] >= 0 THEN 1 ELSE 0 END)
              + 64 * (CASE WHEN v[7] >= 0 THEN 1 ELSE 0 END)
              + 128 * (CASE WHEN v[8] >= 0 THEN 1 ELSE 0 END) AS cluster,
              sqrt(list_inner_product(v, v)) AS n
            FROM e),
      drops AS (SELECT DISTINCT b.vec_id FROM c a JOIN c b
                  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                WHERE round(list_inner_product(a.v, b.v) / (a.n * b.n), 6) > 0.92)
      SELECT vec_id, CAST(cluster AS INT) AS cluster FROM c
      WHERE vec_id NOT IN (SELECT vec_id FROM drops) ORDER BY vec_id""")),

    // L25: paragraph-level exact dedup (the C4/CCNet line-dedup shape):
    // explode each doc into units, count unit frequency over the WHOLE
    // corpus, drop every unit that repeats globally, reassemble the
    // survivors in document order. Unit = fixed 12-word chunk (this
    // fixture has no newlines; a real corpus splits on '\n'). Fully
    // declarative — the explode/groupBy/reassemble all shuffle on unit
    // or doc_id keys, no driver loop, scales like any hash agg.
    Q("l27_paragraph_dedup", (s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("words"))
      val units = docs.select(col("doc_id"),
          posexplode(expr(
            """transform(sequence(0, CAST(ceil(size(words) / 12.0) AS INT) - 1),
               i -> array_join(slice(words, i * 12 + 1, 12), ' '))"""))
            .as(Seq("pos", "unit")))
      val freq = units.groupBy("unit")
        .agg(count(lit(1)).as("freq"))
      val kept = units.join(freq, "unit").filter(col("freq") === 1)
      kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(expr("transform(array_sort(collect_list(struct(pos, unit))), x -> x.unit)"),
            " ").as("cleaned"))
        .orderBy("doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
           p AS (SELECT doc_id, words,
                   unnest(range(CAST(ceil(len(words) / 12.0) AS BIGINT))) AS pos
                 FROM w),
           u AS (SELECT doc_id, pos,
                   array_to_string(words[pos * 12 + 1 : pos * 12 + 12], ' ') AS unit
                 FROM p),
           f AS (SELECT unit, count(*) AS freq FROM u GROUP BY unit)
      SELECT u.doc_id, count(*) AS n_kept,
             string_agg(u.unit, ' ' ORDER BY u.pos) AS cleaned
      FROM u JOIN f USING (unit) WHERE f.freq = 1
      GROUP BY u.doc_id ORDER BY u.doc_id""")),

    // L29: quality-decile curriculum design — the mixture step after
    // scoring: bucket docs into per-LANGUAGE quality deciles (the
    // window partitions on lang, so no global-sort funnel — each
    // language sorts independently, exactly how a 100 TB mixture is
    // built), then per-bucket stats + the keep-rate schedule a
    // curriculum sampler would consume.
    Q("l29_quality_curriculum", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val q = docsWithToks(s, dir).select(
          col("doc_id"), col("lang"),
          size(col("__toks")).as("n_tokens"),
          size(array_distinct(col("__toks"))).as("n_uniq"),
          TextFns.countIn(col("__toks"), stopEn).as("n_stop"))
        .withColumn("quality",
          round(lit(0.4) * (col("n_uniq").cast("double") / col("n_tokens")) +
                lit(0.4) * (col("n_stop").cast("double") / col("n_tokens")) +
                lit(0.2) * (least(col("n_tokens"), lit(100)).cast("double") / 100.0), 4))
      q.withColumn("decile", ntile(10).over(
          Window.partitionBy(col("lang")).orderBy(col("quality"), col("doc_id"))))
        .groupBy("lang", "decile")
        .agg(count(lit(1)).as("n"),
          min(col("quality")).as("min_q"), max(col("quality")).as("max_q"),
          sum(col("n_tokens")).cast("long").as("tokens"))
        .withColumn("keep_rate",
          when(col("decile") <= 2, 0.1)
            .when(col("decile") <= 5, 0.5).otherwise(1.0))
        .orderBy("lang", "decile")
    }, Some("""
      WITH t AS (SELECT doc_id, lang,
                   string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks
                 FROM documents),
      sc AS (SELECT doc_id, lang,
               CAST(len(toks) AS INT) n_tokens,
               round(0.4 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) +
                     0.4 * (CAST(len(list_filter(toks,
                             x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(toks)) +
                     0.2 * (CAST(least(len(toks), 100) AS DOUBLE) / 100.0), 4) quality
             FROM t),
      d AS (SELECT lang, n_tokens, quality,
              ntile(10) OVER (PARTITION BY lang ORDER BY quality, doc_id) decile
            FROM sc)
      SELECT lang, decile, count(*) AS n,
             min(quality) AS min_q, max(quality) AS max_q,
             CAST(sum(n_tokens) AS BIGINT) AS tokens,
             CASE WHEN decile <= 2 THEN 0.1
                  WHEN decile <= 5 THEN 0.5 ELSE 1.0 END AS keep_rate
      FROM d GROUP BY lang, decile ORDER BY lang, decile""")),

    // L28: deterministic global shuffle + shard assignment — the
    // training-export step before dataloader consumption. Shard =
    // md5-uniform hash of the doc id (seeded, so re-sharding with a new
    // seed is one constant away); within-shard order = a second
    // independent md5 draw (the "shuffle"). At scale this is a single
    // hash repartition: each shard writes independently, and the
    // checksum proves the order is reproducible run-to-run.
    Q("l28_shuffle_shards", (s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.load(s, dir, "documents")
        .withColumn("shard", expr(
          "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':42')), 1, 8), 16, 10) AS BIGINT) % 8"))
        .withColumn("rnd", md5(concat(col("doc_id").cast("string"), lit(":shuffle"))))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          md5(array_join(expr(
            "transform(array_sort(collect_list(struct(rnd, doc_id))), x -> CAST(x.doc_id AS STRING))"),
            ",")).as("order_chk"))
        .orderBy("shard")
    }, Some("""
      WITH d AS (SELECT doc_id, n_chars,
                   CAST(('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8)) AS BIGINT) % 8 AS shard,
                   md5(doc_id::VARCHAR || ':shuffle') AS rnd
                 FROM documents)
      SELECT shard, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             md5(string_agg(doc_id::VARCHAR, ',' ORDER BY rnd, doc_id)) AS order_chk
      FROM d GROUP BY shard ORDER BY shard""")),

    // M1: multimodal columns — REAL PNG payloads (javax.imageio), fully
    // decoded back to pixels per partition. The pixel content is the
    // deterministic v=(doc_id+7x+13y)%256 pattern, so DuckDB recomputes
    // every statistic from doc_id without a PNG decoder while Spark
    // exercises the true encode→bytes→decode round trip.
    Q("m1_multimodal", (s, dir) => {
      Multimodal.decodeFeatures(
          Multimodal.attachPayload(Tables.load(s, dir, "documents")))
        .toDF().orderBy("doc_id")
    }, Some("""
      WITH m AS (SELECT doc_id, CAST(doc_id % 29 + 4 AS INT) AS width,
                        CAST(doc_id % 23 + 4 AS INT) AS height
                 FROM documents),
      px AS (SELECT m.doc_id, m.width, m.height,
                    (m.doc_id + 7 * gx.x + 13 * gy.y) % 256 AS v
             FROM m, generate_series(0, 32) gx(x), generate_series(0, 26) gy(y)
             WHERE gx.x < m.width AND gy.y < m.height)
      SELECT doc_id, 'image/png' AS media_type, width, height,
             CAST(width * height AS INT) AS n_px,
             CAST(sum(v) AS BIGINT) AS px_sum,
             CAST(min(v) AS INT) AS px_min,
             CAST(max(v) AS INT) AS px_max,
             CAST(sum(v) * 1000000 // (width * height) AS BIGINT) AS px_mean_micros
      FROM px GROUP BY doc_id, width, height ORDER BY doc_id""")),

    // M2: scanline frame-sampling (every 4th pixel row) + nearest-
    // neighbor aspect-fit resize into a 16 box, one real decode pass,
    // re-encoded as a real PNG. Integer-exact resample (src = x*w div
    // nw) keeps the checksum oracle-recomputable.
    Q("m2_media_resize", (s, dir) => {
      import org.apache.spark.sql.functions.col
      val p = Multimodal.attachPayload(Tables.load(s, dir, "documents"))
      Multimodal.transformMedia(p, 4, 16)
        .select(col("doc_id"), col("n_frames"), col("frame_px_sum"),
          col("new_width"), col("new_height"), col("resized_px_sum"))
        .orderBy("doc_id")
    }, Some("""
      WITH m AS (SELECT doc_id, doc_id % 29 + 4 AS w, doc_id % 23 + 4 AS h
                 FROM documents),
      d AS (SELECT doc_id, w, h,
              greatest(1, w * 16 // greatest(w, h)) AS nw,
              greatest(1, h * 16 // greatest(w, h)) AS nh FROM m),
      fr AS (SELECT m.doc_id,
               count(*) FILTER (gx.x = 0) AS n_frames,
               sum((m.doc_id + 7 * gx.x + 13 * gy.y) % 256) AS fsum
             FROM m, generate_series(0, 32) gx(x), generate_series(0, 26) gy(y)
             WHERE gx.x < m.w AND gy.y < m.h AND gy.y % 4 = 0
             GROUP BY m.doc_id),
      rz AS (SELECT d.doc_id,
               sum((d.doc_id + 7 * (gx.x * d.w // d.nw)
                    + 13 * (gy.y * d.h // d.nh)) % 256) AS rsum
             FROM d, generate_series(0, 16) gx(x), generate_series(0, 16) gy(y)
             WHERE gx.x < d.nw AND gy.y < d.nh
             GROUP BY d.doc_id)
      SELECT m.doc_id, CAST(fr.n_frames AS INT) AS n_frames,
             CAST(fr.fsum AS BIGINT) AS frame_px_sum,
             CAST(d.nw AS INT) AS new_width, CAST(d.nh AS INT) AS new_height,
             CAST(rz.rsum AS BIGINT) AS resized_px_sum
      FROM m JOIN d USING (doc_id) JOIN fr ON fr.doc_id = m.doc_id
             JOIN rz ON rz.doc_id = m.doc_id
      ORDER BY m.doc_id""")),

    // M3: audio multimodal — REAL RIFF/WAVE payloads (javax.sound
    // .sampled, PCM16 LE mono @ 8 kHz), decoded back to PCM per
    // partition. Sample content is the deterministic
    // s(t)=(doc_id*31+t*17)%65536-32768 pattern, so DuckDB recomputes
    // energy/extrema/zero-crossings from doc_id without a WAV parser
    // while Spark exercises the true encode->bytes->decode round trip.
    Q("m3_audio_features", (s, dir) => {
      AudioCodec.decodeFeatures(
          AudioCodec.attachPayload(Tables.load(s, dir, "documents")))
        .toDF().orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 800 + 100 AS INT) AS n
                 FROM documents),
      s AS (SELECT d.doc_id, d.n, g.t,
              (d.doc_id * 31 + g.t * 17) % 65536 - 32768 AS v
            FROM d, generate_series(0, 899) g(t) WHERE g.t < d.n),
      w AS (SELECT doc_id, n, t, v,
              lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
            FROM s)
      SELECT doc_id, 'audio/wav' AS media_type, 8000 AS sample_rate,
             CAST(n AS INT) AS n_samples,
             CAST(n * 125 AS BIGINT) AS duration_micros,
             CAST(sum(v) AS BIGINT) AS amp_sum,
             CAST(min(v) AS INT) AS amp_min,
             CAST(max(v) AS INT) AS amp_max,
             CAST(sum(v * v) AS BIGINT) AS sq_sum,
             CAST(count(*) FILTER (pv IS NOT NULL AND (pv < 0) != (v < 0))
                  AS INT) AS zero_crossings
      FROM w GROUP BY doc_id, n ORDER BY doc_id""")),

    // M4: audio decimation — keep every 4th sample, RE-ENCODE as a real
    // 2 kHz WAV, decode that second file and report its stats (read and
    // write codec paths both proven per row).
    Q("m4_audio_resample", (s, dir) => {
      AudioCodec.resample(
          AudioCodec.attachPayload(Tables.load(s, dir, "documents")),
          factor = 4)
        .toDF().orderBy("doc_id")
    }, Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 800 + 100 AS INT) AS n
                 FROM documents),
      r AS (SELECT doc_id, (n + 3) // 4 AS nn FROM d),
      s AS (SELECT r.doc_id, r.nn,
              (r.doc_id * 31 + g.i * 68) % 65536 - 32768 AS v
            FROM r, generate_series(0, 224) g(i) WHERE g.i < r.nn)
      SELECT doc_id, 2000 AS new_rate, CAST(nn AS INT) AS new_n,
             CAST(sum(v) AS BIGINT) AS new_amp_sum,
             CAST(sum(v * v) AS BIGINT) AS new_sq_sum
      FROM s GROUP BY doc_id, nn ORDER BY doc_id""")),

    // L33: overlapping-window chunking (RAG/embedding-pipeline shape):
    // each document splits into 200-char windows on a 150-char stride
    // (50-char overlap). Pure codegen'd builtins — sequence + explode +
    // substr — one narrow scan, no UDF, no shuffle before the sort; at
    // 100 TB this is an embarrassingly parallel map whose output feeds
    // the embedding stage (l5/l6 et al) directly.
    Q("l33_chunk_overlap", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(sequence(lit(0),
            greatest(lit(0), length(col("text")) - 1), lit(150)))
            .as("chunk_start"),
          col("text"))
        .select(col("doc_id"),
          (col("chunk_start") / 150).cast("int").as("chunk_id"),
          col("chunk_start").cast("long").as("chunk_start"),
          expr("substr(text, chunk_start + 1, 200)").as("chunk"))
        .withColumn("chunk_len", length(col("chunk")))
        .orderBy("doc_id", "chunk_id")
    }, Some("""
      SELECT doc_id, CAST(chunk_start / 150 AS INT) AS chunk_id,
             CAST(chunk_start AS BIGINT) AS chunk_start,
             substr(text, CAST(chunk_start AS INT) + 1, 200) AS chunk,
             CAST(length(substr(text, CAST(chunk_start AS INT) + 1, 200)) AS INT) AS chunk_len
      FROM (SELECT doc_id, text,
              unnest(generate_series(0, greatest(0, length(text) - 1), 150)) AS chunk_start
            FROM documents)
      ORDER BY doc_id, chunk_id""")),

    // L34: DSIR-style importance resampling (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"):
    // hashed-unigram bucket features, per-doc importance weight =
    // sum of log-likelihood ratios between the TARGET distribution
    // (here: the corpus's English docs) and the RAW distribution, then
    // Gumbel-top-k sampling on (weight + Gumbel noise). The noise is
    // derived deterministically from md5(doc_id) so the DuckDB oracle
    // reproduces the draw exactly (production would seed xxhash64).
    // Scale shape: one token explode, two 64-row bucket aggregations,
    // a BROADCAST of the 64-row ratio table back onto the token
    // stream, one groupBy(doc_id) — no all-pairs, no driver loops.
    Q("l34_dsir_resample", (s, dir) => {
      graft.dialect.ChFunctions.register(s) // md5Prefix60
      val B = 64
      val toks = docsWithToks(s, dir)
        .select(col("doc_id"), col("lang"), explode(col("__toks")).as("token"))
        .withColumn("b", expr(s"md5Prefix60(token) % $B"))
      // r15: ONE tokenize+hash pass instead of three. The old plan
      // re-tokenized and re-hashed the corpus for qd, for pd, and for
      // the per-doc weights (plan-confirmed: no AQE stage reuse fires —
      // column pruning differentiates the branches). Instead the
      // per-(doc, bucket) counts tfb — bounded at 64 rows/doc, the
      // standard DSIR feature materialization — are computed once and
      // localCheckpoint'ed (inside the run, from parquet; nothing
      // survives the run), and everything else derives from tfb:
      //   qc(b) = sum(c), pc(b) = sum(c | lang='en')  [old pd LEFT JOIN
      //   + fill(0) = exactly the conditional sum], totals = column
      //   sums, w(doc) = sum(lr(b) * c)  [= the old per-token sum of
      //   lr, grouped by bucket first]. Verified value-identical.
      val tfb = toks.groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val counts = tfb.groupBy("b").agg(sum(col("c")).as("qc"),
        sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("pc"))
      val totals = counts.agg(sum(col("qc")).as("qtot"),
        sum(col("pc")).as("ptot"))
      val lr = counts
        .crossJoin(broadcast(totals))
        .select(col("b"),
          (log((col("pc") + 1.0) / (col("ptot") + B)) -
           log((col("qc") + 1.0) / (col("qtot") + B))).as("lr"))
      val w = tfb.join(broadcast(lr), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("lr") * col("c")).as("w"))
      // deterministic Gumbel key: u in (0,1) from md5(doc_id)
      val key = (col("w") -
        log(-log((expr("md5Prefix60(cast(doc_id AS string))") % 1000000 +
          0.5) / 1000000.0))).as("gkey")
      w.select(col("doc_id"), col("w"), key)
        .orderBy(col("gkey").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), round(col("w"), 3).as("w"))
        .orderBy(col("doc_id"))
    }, Some("""
      WITH t AS (SELECT doc_id, lang,
                   unnest(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) token
                 FROM documents),
      f AS (SELECT doc_id, lang,
              ('0x' || substr(md5(token), 1, 15))::BIGINT % 64 AS b
            FROM t),
      qd AS (SELECT b, count(*) qc FROM f GROUP BY b),
      pd AS (SELECT b, count(*) pc FROM f WHERE lang = 'en' GROUP BY b),
      tot AS (SELECT (SELECT sum(qc) FROM qd) qtot, (SELECT sum(pc) FROM pd) ptot),
      lr AS (SELECT qd.b,
               ln((coalesce(pd.pc, 0) + 1.0) / (tot.ptot + 64)) -
               ln((qd.qc + 1.0) / (tot.qtot + 64)) AS lr
             FROM qd LEFT JOIN pd ON pd.b = qd.b, tot),
      w AS (SELECT f.doc_id, sum(lr.lr) w
            FROM f JOIN lr ON lr.b = f.b GROUP BY f.doc_id),
      g AS (SELECT doc_id, w,
              w - ln(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 + 0.5) / 1000000.0)) AS gkey
            FROM w)
      SELECT doc_id, round(w, 3) AS w
      FROM (SELECT * FROM g ORDER BY gkey DESC, doc_id LIMIT 50)
      ORDER BY doc_id"""), bench = true),

    // L35: exact-substring dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"): every 20-token
    // window is fingerprinted (md5-60, the oracle-paritable hash); an
    // occurrence whose gram already appeared earlier in corpus order
    // (doc_id, pos) is a removable duplicate span. Per doc: how many
    // of its window positions duplicate earlier text. Scale shape:
    // one explode to (doc, pos, hash-long) — 8-byte keys, not 120-byte
    // gram strings — one shuffle keyed on the hash, no all-pairs.
    Q("l35_exact_substring_dedup", (s, dir) => {
      graft.dialect.ChFunctions.register(s) // md5Prefix60
      val G = 20
      val grams = docsWithToks(s, dir)
        .filter(size(col("__toks")) >= G)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(__toks) - $G), i -> " +
            s"struct(i AS pos, md5Prefix60(array_join(slice(__toks, i + 1, $G), ' ')) AS h))"))
          .as("g"))
        .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
      val w = Window.partitionBy("h").orderBy("doc_id", "pos")
      grams.withColumn("rk", row_number().over(w))
        .filter(col("rk") > 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("dup_positions"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id,
                   string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ') toks
                 FROM documents),
      g AS (SELECT doc_id, i AS pos,
              ('0x' || substr(md5(array_to_string(toks[i+1:i+20], ' ')), 1, 15))::BIGINT AS h
            FROM (SELECT doc_id, toks,
                    unnest(generate_series(0, len(toks) - 20)) AS i
                  FROM t WHERE len(toks) >= 20)),
      r AS (SELECT doc_id,
              row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
            FROM g)
      SELECT doc_id, count(*) AS dup_positions
      FROM r WHERE rk > 1 GROUP BY doc_id ORDER BY doc_id"""), bench = true)
  )
}
