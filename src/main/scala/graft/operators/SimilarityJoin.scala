package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFns

/** Exact set-similarity self-join on character n-grams with prefix
  * filtering (PPJoin-style), optionally blocked by a partition column.
  *
  * Prefix filter: order each doc's n-grams by ascending global
  * frequency (rarest first; ties by n-gram). Any pair with Jaccard >= t
  * must share one of each side's first m = |A| - ceil(t*|A|) + 1
  * n-grams, so indexing ONLY the prefix is lossless — recall is exactly
  * 1 and the brute-force oracle matches deterministically.
  *
  * Scale: this is what kills the hot-bucket problem of a naive inverted
  * index — ubiquitous n-grams ("the ") sit at the END of the frequency
  * order and never enter the index, so no bucket degenerates into an
  * all-pairs join. Shuffles: global n-gram count (1), frequency-rank
  * window per doc (1), candidate equi-join (1), two verify joins.
  */
object SimilarityJoin {

  /** Estimated gram-set bytes up to which the verify joins broadcast. */
  private val BroadcastVerifyBytes = 200L << 20

  /** (block, a, b, jac) for pairs in the same block with char-n-gram
    * Jaccard >= threshold. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int,
                        threshold: Double): DataFrame = {
    // materialized once per call: reused by the frequency count, both
    // prefix-join sides, and both verify joins — recomputing the n-gram
    // arrays 5x is the dominant cost otherwise. localCheckpoint, not
    // persist: a leaked cache entry would serve later identical plans
    // from memory (see MinHashLsh.nearDupPairs)
    // spread first: a single-file corpus scans as ONE task (guide §2.5)
    //
    // r16: grams live as SORTED 60-bit md5 HASHES from here on — the
    // gram string never leaves the map stage. Every downstream key
    // (frequency groupBy, prefix equi-join) becomes an 8-byte long
    // instead of an n-char string (guide §2.3 "shuffle keys instead of
    // payloads"), the checkpoint stores long arrays, and the verify's
    // set-intersection becomes a codegen'd merge over sorted longs
    // (sortedLongIntersect) instead of ~1M interpreted
    // array_intersect/array_union calls — the last interpreted
    // expression on this path (r15 "not yet" list). The rarity order
    // changes from (freq, gram-string) to (freq, gram-hash): the
    // prefix filter only needs SOME fixed global total order, so the
    // filter stays lossless; verified results are unchanged (exact
    // verify, oracle-gated — 60-bit collisions would need ~2^30
    // distinct grams per block to be plausible).
    graft.dialect.ChFunctions.register(docs.sparkSession) // md5Prefix60
    // narrowed to the three columns this operator reads, so the spread
    // checkpoint never materializes the rest (r16, guide §2.3)
    val base = graft.Tables.spread(
        docs.select(col(idCol), col(blockCol), col(textCol)))
      .select(col(idCol).as("id"), col(blockCol).as("block"),
        TextFns.sortedHashes(
          TextFns.charNgrams(TextFns.norm(col(textCol)), n)).as("hs"))
      .localCheckpoint(true)

    val exploded = base.select(col("id"), col("block"),
      size(col("hs")).as("sz"), explode(col("hs")).as("g"))

    // global frequency => deterministic rarity order (freq, gram-hash)
    val freq = exploded.groupBy(col("g")).agg(count(lit(1)).as("freq"))
    val ranked = exploded.join(freq, "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("freq").asc, col("g").asc)))

    // prefix length m = sz - ceil(t*sz) + 1. The epsilon inside ceil
    // makes the bound EXACT-SAFE: t*sz evaluated in doubles can land
    // epsilon above the true rational value (0.8*35 = 28.000000000000004)
    // and ceil then over-prunes a pair sitting exactly at the
    // threshold, breaking the lossless/recall-1 contract (r16, advice).
    // 1e-9 is far below the spacing of t*sz values for any
    // short-decimal threshold, so it can never under-tighten by 1.
    // localCheckpoint: the self-join below references prefix TWICE,
    // and without a barrier each branch re-runs the explode +
    // frequency join + rank window over the full gram stream (no AQE
    // stage reuse fires — r15, plan-verified; same hazard as
    // MinHashLsh/LlmPipeline).
    val prefix = ranked.filter(
      col("rk") <= col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1)
      .localCheckpoint(true)

    // Two lossless pre-filters on the candidate join (r15 — the
    // synthetic fixture's tiny 4-gram vocabulary is the prefix
    // filter's worst case, so every dropped pair matters):
    //  - size compatibility: jaccard >= t forces t*sz(a) <= sz(b)
    //    (and symmetrically);
    //  - PPJoin positional filter (Xiao et al. 2008): a shared prefix
    //    gram at ranks (rx, ry) bounds the overlap by
    //    1 + min(sz_a - rx, sz_b - ry); jaccard >= t needs overlap
    //    >= t/(1+t) * (sz_a + sz_b), so matches whose bound falls
    //    short cannot certify the pair — and a pair ALL of whose
    //    shared prefix grams fall short cannot reach t at all.
    // same epsilon guard as the prefix filter: t/(1+t)*(sz_a+sz_b) in
    // doubles rounds up past the exact integer at e.g. t=0.8, sizes
    // summing 63 (exact 28, fp 28.000000000000004 -> ceil 29), which
    // silently dropped exact-threshold pairs (r16, advice)
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("x.sz") + col("y.sz")) - lit(1e-9))
    val cands = prefix.as("x").join(prefix.as("y"),
        col("x.block") === col("y.block") && col("x.g") === col("y.g") &&
          col("x.id") < col("y.id") &&
          col("y.sz") >= lit(threshold) * col("x.sz") &&
          col("x.sz") >= lit(threshold) * col("y.sz") &&
          lit(1) + least(col("x.sz") - col("x.rk"),
            col("y.sz") - col("y.rk")) >= alpha)
      .select(col("x.block").as("block"), col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

    // Spread the pair stream before the verify: AQE coalesces the
    // distinct's exchange by SHUFFLE BYTES (a ~24-byte pair row), blind
    // to the interpreted array-intersect each surviving row pays next —
    // measured: 967k verifies squeezed onto 4 post-coalesce tasks, two
    // ~23 s straggler stages. fanOut (r16): the r15 spread() here
    // probed the shuffled stream's partition count, which executed the
    // whole candidate pipeline once BEFORE the checkpoint recomputed
    // it — the dominant stage ran twice (advice). fanOut repartitions
    // unconditionally with no probe.
    val candsWide = graft.Tables.fanOut(cands)

    // Verify joins: the checkpointed gram table has no catalyst stats,
    // so AQE cannot see that it is broadcastable and would sort-merge —
    // shipping the ~KB gram array of BOTH sides through two full
    // shuffles of the candidate stream (measured: 27 s of l4's 34 s).
    // Restore the decision AQE lost with measured numbers: rows and
    // mean gram count are two O(1)-ish jobs on the checkpoint; when
    // the estimated size fits the bound, broadcast —
    // the guide's "explicit broadcast when you know a side is small".
    // A 100 TB corpus blows the bound and falls back to the shuffle
    // join, which is the correct plan at that scale.
    val sets = base.select(col("id"), col("hs"))
    val estBytes = {
      val stats = base.select(count(lit(1)), avg(size(col("hs")))).head
      val rows = stats.getLong(0)
      val avgGrams = Option(stats.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      (rows * avgGrams * 8 + rows * 32).toLong // 8 B/hash + row overhead
    }
    def side(tag: String) = {
      val s = sets.select(col("id").as(tag), col("hs").as(s"h$tag"))
      if (estBytes <= BroadcastVerifyBytes) broadcast(s) else s
    }
    candsWide
      .join(side("a"), "a")
      .join(side("b"), "b")
      .withColumn("jac", TextFns.jaccardSorted(col("ha"), col("hb")))
      .filter(col("jac") >= threshold)
      .select(col("block"), col("a"), col("b"), round(col("jac"), 4).as("jac"))
  }
}
